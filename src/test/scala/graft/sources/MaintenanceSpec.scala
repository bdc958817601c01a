package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** A local filesystem under its own scheme that RECORDS every
  * `getFileStatus` path — the call-counting shim that proves a
  * maintenance operator's candidate sizing came from the manifest's
  * byte ledger and not from per-file FS stats (each of which is a
  * sequential HEAD request on an object store) — and counts every
  * `open` per path (each a GET on an object store). Registered per
  * test via `fs.graftcount.impl`; the standard custom-scheme-over-local
  * test pattern.
  */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftcount"
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def getFileStatus(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    CountingLocalFs.statted.add(p.toUri.getPath)
    super.getFileStatus(p)
  }
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opened.computeIfAbsent(p.toUri.getPath,
      _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()
    super.open(p, bufferSize)
  }
}
object CountingLocalFs {
  val statted: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val opened = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
}

/** Partial compaction ([[Snapshots.compactSmall]]) and unique-key
  * appends ([[Snapshots.commitUnique]]): file-level carry/rewrite
  * behavior, mask consolidation exactness, ledger accounting, and the
  * refusal semantics the u25/u26 oracles cannot observe file-by-file.
  */
class MaintenanceSpec extends SparkSpec {

  private def freshDir(): String = graft.TempDirs.create("graft-maint-spec")

  private def frame(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  test("purgeDeletes rewrites ONLY masked files; clean files carry by reference") {
    val dir = freshDir()
    // three disjoint key-range files, stats on id
    (0 until 3).foreach { i =>
      Snapshots.commit(frame(i * 100 until i * 100 + 100, s"f$i").coalesce(1),
        dir, if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
    }
    val m0 = Snapshots.readManifest(spark, dir, 2L)
    assert(m0.files.size === 3)
    // mask rows in exactly ONE file (ids 0..99 live in file 0)
    Snapshots.deleteWhere(spark, dir, col("id") < 10L)
    val v = Snapshots.purgeDeletes(spark, dir)
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.dvs.isEmpty && m.dvRows === 0L)
    // the two clean files are the SAME rels — carried, not rewritten
    val carried = m0.files.filter(m.files.contains)
    assert(carried.size === 2, s"expected 2 carried files, got $carried")
    assert(m.files.size === 3 || m.files.size === 2) // 1 rewrite (or empty)
    // the rewritten file's stats survived the purge (inherited cols)
    val fresh = m.files.filterNot(m0.files.contains)
    assert(fresh.nonEmpty && fresh.forall(r => m.stats.contains((r, "id"))),
      "purge must re-record stats on the rewritten files")
    // accounting exact; content identical
    assert(m.dataRows === 290L)
    assert(Snapshots.readVersion(spark, dir).count() === 290L)
    assert(Snapshots.readVersion(spark, dir)
      .filter(col("id") < 10L).count() === 0L)
    // a maskless purge is a metadata-only version bump (protocol
    // drivers model purge as consuming a version)
    val v2 = Snapshots.purgeDeletes(spark, dir)
    assert(v2 === v + 1)
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(m2.files.toSet === m.files.toSet)
  }

  test("purgeDeletes keeps partition dirs and bucket ids on the rewritten files") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    val df = (0 until 400).map(i =>
      (i.toLong, if (i % 2 == 0) "even" else "odd")).toDF("id", "p")
    Snapshots.commit(df, dir, "overwrite",
      partitionBy = Seq("p"), bucketBy = Some(("id", 4)),
      statsColumns = Seq("id"))
    Snapshots.deleteWhere(spark, dir, col("p") === "odd" && col("id") < 100L)
    val m0 = Snapshots.readManifest(spark, dir, 0L)
    val v = Snapshots.purgeDeletes(spark, dir)
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.dvs.isEmpty)
    // every even-partition file carried untouched
    val evens0 = m0.files.filter(_.contains("p=even")).toSet
    assert(evens0.subsetOf(m.files.toSet),
      "clean partition's files must carry by reference")
    // rewritten odd files landed back in their partition dir with
    // bucket ids re-recorded
    val freshOdd = m.files.filterNot(m0.files.contains)
    assert(freshOdd.nonEmpty && freshOdd.forall(_.contains("p=odd")))
    assert(freshOdd.forall(m.buckets.contains),
      "rewritten files must re-enter the bucket mapping")
    assert(m.partitionCols === Seq("p") && m.bucketSpec.contains(("id", 4)))
    // content + bucket-pruned lookup still exact
    assert(Snapshots.readVersion(spark, dir).count() === 350L)
    val probe = Snapshots.readVersionFiltered(spark, dir, None, Seq(
      org.apache.spark.sql.sources.EqualTo("p", "odd"),
      org.apache.spark.sql.sources.EqualTo("id", 101L)))
    assert(probe.inputFiles.length < m.files.size)
    assert(probe.where(col("id") === 101L).count() === 1L)
  }

  test("compactSmall: big file carried by reference, smalls rewritten, masks exact") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 5000, "big").coalesce(1), dir, "overwrite",
      statsColumns = Seq("id"))
    (0 until 4).foreach { i =>
      Snapshots.commit(
        frame(10000 + i * 10 until 10000 + i * 10 + 10, s"s$i").coalesce(1),
        dir, "append")
    }
    // masks in BOTH worlds: some big-file rows, some small-file rows
    Snapshots.deleteWhere(spark, dir,
      col("id").isin(3L, 7L, 10002L, 10013L))
    val m1 = Snapshots.readManifest(spark, dir, 5L)
    val bigRel = m1.files.head // v0's single file listed first
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigLen = f.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, bigRel)).getLen
    val preRows = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val v = Snapshots.compactSmall(spark, dir, minBytes = bigLen / 2)
    assert(v === 6L)
    val m2 = Snapshots.readManifest(spark, dir, 6L)
    // the big file rode by reference; the four smalls became one
    assert(m2.files.contains(bigRel))
    assert(m2.files.size === 2)
    // its stats rode too
    assert(m2.stats.contains((bigRel, "id")))
    // mask consolidation: the surviving dv masks ONLY big-file rows
    assert(m2.dvRows === 2L) // ids 3 and 7; 10002/10013 applied inert
    // content identical; ledger exact
    val postRows = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(postRows === preRows)
    assert(m2.dataRows - m2.dvRows === preRows.size.toLong)
    assert(Snapshots.fastCount(spark, dir) === preRows.size.toLong)
    // prior masked version still serves its exact state
    assert(Snapshots.readVersion(spark, dir, Some(5L)).count()
      === preRows.size.toLong)
    // fewer than 2 smalls: no-op, no version consumed
    assert(Snapshots.compactSmall(spark, dir, minBytes = bigLen / 2) === 6L)
  }

  test("compactSmall on a clone: borrowed big file keeps its mask") {
    val src = freshDir()
    Snapshots.commit(frame(0 until 5000, "big").coalesce(1), src, "overwrite")
    Snapshots.deleteWhere(spark, src, col("id").isin(3L, 7L))
    val cl = freshDir()
    Snapshots.cloneShallow(spark, src, cl)
    (0 until 3).foreach { i =>
      Snapshots.commit(frame(9000 + i until 9001 + i, s"s$i").coalesce(1),
        cl, "append")
    }
    val pre = Snapshots.readVersion(spark, cl).count()
    assert(pre === 5001L) // 5000 − 2 masked + 3 appends
    val m = Snapshots.readManifest(spark, cl,
      Snapshots.latestVersion(spark, cl).get)
    val f = new org.apache.hadoop.fs.Path(cl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val maxLen = m.files.map { rel =>
      val p = new org.apache.hadoop.fs.Path(rel)
      val abs = if (p.isAbsolute) p else new org.apache.hadoop.fs.Path(cl, rel)
      f.getFileStatus(abs).getLen
    }.max
    Snapshots.compactSmall(spark, cl, minBytes = maxLen / 2)
    val m2 = Snapshots.readManifest(spark, cl,
      Snapshots.latestVersion(spark, cl).get)
    // the borrowed big file rode by reference WITH its mask
    assert(m2.files.exists(new org.apache.hadoop.fs.Path(_).isAbsolute))
    assert(m2.dvRows === 2L)
    assert(Snapshots.readVersion(spark, cl).count() === pre)
    assert(Snapshots.readVersion(spark, cl)
      .filter(col("id").isin(3L, 7L)).count() === 0L) // still masked
  }

  test("compactZOrder: manifest stats prune on BOTH dimensions after the rewrite") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // deterministic 64×64 grid over [0,504]², committed in hash order
    // (every file spans the full range of both keys — worst case)
    val grid = spark.range(64L * 64)
      .withColumn("a", (col("id") % 64) * 8)
      .withColumn("b", expr("(id div 64) * 8"))
    Snapshots.commit(grid.repartition(8, col("id") % 8).select("a", "b"),
      dir, "overwrite", statsColumns = Seq("a", "b"))
    def m() = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    val before = m()
    val box = Seq(("a", 128L: Any, 191L: Any), ("b", 128L: Any, 191L: Any))
    assert(Snapshots.pruneFiles(before, box).size === before.files.size,
      "hash-ordered files must be unprunable (full-range stats)")
    // the OPTIMIZE ZORDER rewrite
    Snapshots.compactZOrder(spark, dir, 8, "a", "b")
    val after = m()
    assert(after.files.size === 8)
    // each single dimension prunes, and the 2-d box multiplies them.
    // Bounds are deliberately loose: repartitionByRange SAMPLES its
    // boundaries, so a boundary can graze the box and admit one extra
    // file run-to-run — the claim is the contrast against the
    // hash-ordered layout above, where ALL files overlap everything
    val aKept = Snapshots.pruneFiles(after, "a", 128L, 191L).size
    val bKept = Snapshots.pruneFiles(after, "b", 128L, 191L).size
    assert(aKept < 7, s"a-pred must prune z-ordered files (kept $aKept/8)")
    assert(bKept < 7, s"b-pred must prune z-ordered files (kept $bKept/8)")
    val boxKept = Snapshots.pruneFiles(after, box).size
    assert(boxKept <= 3 && boxKept <= math.min(aKept, bKept),
      s"2-d box must touch a fraction of the files (kept $boxKept/8)")
    // semantics unchanged: same rows, old version intact
    val got = spark.read.format("graft").load(dir)
    assert(got.count() === 64L * 64)
    assert(got.agg(sum("a"), sum("b")).head() ===
      grid.agg(sum("a"), sum("b")).head())
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .count() === 64L * 64)
  }

  test("compactZOrder on 3 dimensions: every single dim and the 3-d box prune") {
    val dir = freshDir()
    // 16×16×16 grid over [0,120]³, committed in hash order (every
    // file spans the full range of all three keys — worst case)
    val grid = spark.range(16L * 16 * 16)
      .withColumn("a", (col("id") % 16) * 8)
      .withColumn("b", expr("((id div 16) % 16) * 8"))
      .withColumn("c", expr("(id div 256) * 8"))
    Snapshots.commit(grid.repartition(8, col("id") % 8).select("a", "b", "c"),
      dir, "overwrite", statsColumns = Seq("a", "b", "c"))
    def m() = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    val box = Seq(("a", 32L: Any, 63L: Any), ("b", 32L: Any, 63L: Any),
      ("c", 32L: Any, 63L: Any))
    assert(Snapshots.pruneFiles(m(), box).size === m().files.size,
      "hash-ordered files must be unprunable (full-range stats)")
    // values fit 7 bits; 3 × 7 = 21 interleaved bits. 64 files give
    // the curve two full splits per dimension (top 6 z-bits), so each
    // single dimension gets a quarter-range per file even though the
    // sampled range boundaries bleed across cell corners
    Snapshots.compactZOrder(spark, dir, 64, Seq("a", "b", "c"), bits = 7)
    val after = m()
    assert(after.files.size === 64)
    // every single dimension prunes on its own (loose bounds — range
    // boundaries are sampled), and the 3-d box multiplies them
    val kept = Seq("a", "b", "c").map(d =>
      Snapshots.pruneFiles(after, d, 32L, 63L).size)
    kept.zip(Seq("a", "b", "c")).foreach { case (k, d) =>
      assert(k < 48, s"$d-pred must prune 3-d z-ordered files (kept $k/64)") }
    val boxKept = Snapshots.pruneFiles(after, box).size
    assert(boxKept <= 12 && boxKept <= kept.min,
      s"3-d box must touch a fraction of the files (kept $boxKept/64)")
    // semantics unchanged across the rewrite
    val got = spark.read.format("graft").load(dir)
    assert(got.count() === 16L * 16 * 16)
    assert(got.agg(sum("a"), sum("b"), sum("c")).head() ===
      grid.agg(sum("a"), sum("b"), sum("c")).head())
  }

  test("compactSmall serves candidate sizes (and carried row counts) " +
    "from the manifest ledger: ZERO per-data-file FS stats on an " +
    "accounting-complete table (VERDICT r14 task #1)") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    val dir = "graftcount:" + graft.TempDirs.create("graft-maint-count")
    (0 until 4).foreach { i =>
      Snapshots.commit(frame(i * 100 until i * 100 + 100, s"f$i").coalesce(1),
        dir, if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
    }
    val m = Snapshots.readManifest(spark, dir, 3L)
    assert(m.files.size === 4 &&
      m.files.forall(m.fileBytes.contains) &&
      m.files.forall(m.fileRows.contains),
      "the fixture must be accounting-complete (byte + row ledgers)")
    // leg 1: nothing to rewrite (every file clears the threshold) —
    // the operator's ONLY work is the sizing decision, which must be
    // ledger-served: no data file may be stat'd. Pre-fix, this very
    // call issued one getFileStatus per live file (O(table) sequential
    // HEADs on an object store before an O(small-tail) rewrite).
    CountingLocalFs.statted.clear()
    assert(Snapshots.compactSmall(spark, dir, minBytes = 1L) === 3L)
    val statted1 = CountingLocalFs.statted.toArray(Array.empty[String])
      .filter(_.contains("/data/"))
    assert(statted1.isEmpty,
      s"candidate sizing must not stat data files, but stat'd: " +
        statted1.mkString(", "))
    // leg 2: a real ledger-driven compaction — the carried/rewritten
    // decision and the carried-file row accounting both ride the
    // ledger, and the result is exact
    val before = Snapshots.readVersion(spark, dir).count()
    val v2 = Snapshots.compactSmall(spark, dir, minBytes = Long.MaxValue / 2)
    assert(v2 === 4L)
    val m2 = Snapshots.readManifest(spark, dir, v2)
    assert(m2.files.size < m.files.size, "smalls folded")
    assert(m2.dataRows === before)
    assert(Snapshots.readVersion(spark, dir).count() === before)
  }

  test("a DML and an append open their base manifest once") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    val dir = "graftcount:" + graft.TempDirs.create("graft-maint-open")
    (0 until 3).foreach { i =>
      Snapshots.commit(frame(i * 100 until i * 100 + 100, s"f$i").coalesce(1),
        dir, if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
    }
    def opensOf(v: Long): Int = Option(CountingLocalFs.opened.get(
      new org.apache.hadoop.fs.Path(dir, f"_manifests/v$v%06d.manifest")
        .toUri.getPath)).fold(0)(_.get)
    // DELETE on v2: the resolve and the candidate walk both read the
    // one parse of the head manifest
    CountingLocalFs.opened.clear()
    assert(Snapshots.deleteWhere(spark, dir, col("id") === 150L) === 3L)
    assert(opensOf(2L) === 1, "deleteWhere must open its base manifest once")
    // append on v3: the predecessor's header and shell come from one parse
    CountingLocalFs.opened.clear()
    assert(Snapshots.commit(frame(300 until 310, "t").coalesce(1), dir,
      "append", statsColumns = Seq("id")) === 4L)
    assert(opensOf(3L) === 1, "an append must open its base manifest once")
    assert(Snapshots.readVersion(spark, dir).count() === 309L)
  }

  test("checkpoint planning resolves its covering checkpoint once: one " +
    "_covered_segs.txt open per planning call") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingLocalFs].getName)
    val dir = "graftcount:" + graft.TempDirs.create("graft-maint-cover")
    (0 until 2).foreach { i =>
      Snapshots.commit(frame(i * 100 until i * 100 + 100, s"f$i").coalesce(1),
        dir, if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
    }
    val ck = Snapshots.writeMetadataCheckpoint(spark, dir, Some(1L))
    val sidecar = new org.apache.hadoop.fs.Path(ck, "_covered_segs.txt")
      .toUri.getPath
    def opens(): Int = Option(CountingLocalFs.opened.get(sidecar)).fold(0)(_.get)
    Seq[(Seq[(String, Seq[Any])], Seq[(String, Any, Any)])](
      (Nil, Nil), (Nil, Seq(("id", 10L, 20L))),
      (Seq("id" -> Seq(150L)), Nil)).foreach { case (probes, ranges) =>
      CountingLocalFs.opened.clear()
      val kept = Snapshots.pruneFilesCheckpointedProbes(spark, dir, Some(1L),
        probes, ranges)
      assert(kept.nonEmpty)
      assert(opens() === 1, s"$probes $ranges opened the sidecar ${opens()}×")
    }
  }

  test("commitUnique: fresh keys land; dups and replays are refused versionlessly") {
    val dir = freshDir()
    assert(Snapshots.commitUnique(frame(0 until 100, "a"), dir, "id") === 0L)
    assert(Snapshots.commitUnique(frame(100 until 120, "b"), dir, "id") === 1L)
    // replay: every key exists
    intercept[IllegalArgumentException] {
      Snapshots.commitUnique(frame(100 until 120, "b"), dir, "id")
    }
    // one overlapping key is enough
    intercept[IllegalArgumentException] {
      Snapshots.commitUnique(frame(119 until 130, "c"), dir, "id")
    }
    // in-batch duplicate
    val s = spark
    import s.implicits._
    intercept[IllegalArgumentException] {
      Snapshots.commitUnique(
        Seq((500L, "x"), (500L, "y")).toDF("id", "tag"), dir, "id")
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(1L))
    assert(Snapshots.readVersion(spark, dir).count() === 120L)
    // the fallback probe path (maxProbeKeys exceeded) refuses identically
    intercept[IllegalArgumentException] {
      Snapshots.commitUnique(frame(110 until 150, "d"), dir, "id",
        maxProbeKeys = 5)
    }
    // and admits fresh keys identically
    assert(Snapshots.commitUnique(frame(200 until 240, "e"), dir, "id",
      maxProbeKeys = 5) === 2L)
  }

  test("commitUnique on a bucketed table probes through the index") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 1000, "base"), dir, "overwrite",
      bucketBy = Some(("id", 16)))
    assert(Snapshots.commitUnique(frame(5000 until 5010, "new"), dir, "id") === 1L)
    intercept[IllegalArgumentException] {
      Snapshots.commitUnique(frame(5005 until 5008, "clash"), dir, "id")
    }
    assert(Snapshots.readVersion(spark, dir).count() === 1010L)
  }
}
