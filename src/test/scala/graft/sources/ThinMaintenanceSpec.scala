package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** One path per table DML and maintenance operation: the append
  * commit, [[Snapshots.deleteWhere]], [[Snapshots.updateWhere]],
  * [[Snapshots.mergeOnRead]], [[Snapshots.purgeDeletes]],
  * [[Snapshots.clusterTail]] and [[Snapshots.compactSmall]] each plan
  * candidates with [[Snapshots.liveEntriesCheckpointed]] (a covering
  * checkpoint, else the driver walk over every segment), resolve
  * their base THIN and publish a manifest DELTA — and with a covering
  * checkpoint never consult a segment the operation does not touch.
  * The proof is [[Snapshots.segmentTouchHook]]: it observes every
  * `cachedSegment` call (cache hits included), so "untouched segments
  * untouched" is a recorded fact, not an inference — the driver-side
  * twin of [[CountingLocalFs]]'s getFileStatus ledger proof. Tables
  * with and without a checkpoint must agree map-for-map.
  */
class ThinMaintenanceSpec extends SparkSpec {

  private def freshDir(): String = graft.TempDirs.create("graft-thinmaint")

  private def frame(ids: Range, tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  /** Run `body` with the segment-touch hook installed; returns the
    * set of segment rels consulted during it.
    */
  private def recordTouches[T](body: => T): (T, Set[String]) = {
    val touched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Snapshots.segmentTouchHook.set((rel: String) => { touched.add(rel); () })
    try {
      val r = body
      (r, scala.jdk.CollectionConverters.SetHasAsScala(touched).asScala.toSet)
    } finally Snapshots.segmentTouchHook.set(null)
  }

  /** The segments owning `rels` at `version`, via the same planning
    * walk the operators use.
    */
  private def owningSegs(dir: String, version: Long,
                         rels: Set[String]): Set[String] = {
    val all = Snapshots.liveEntriesCheckpointed(spark, dir,
      Snapshots.parseManifest(spark, dir, version),
      Snapshots.coverOf(spark, dir, version), (_: Snapshots.CkptFile) => true)
    all.filter(e => rels.contains(e.file)).map(_.seg).toSet
  }

  private def content(d: String): Set[(Long, String)] =
    Snapshots.readVersion(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** Three range-sliced commits with key stats → three segments. */
  private def seedSlices(d: String): Unit =
    (0 until 3).foreach { i =>
      Snapshots.commit(frame(i * 1000 until i * 1000 + 1000, s"b$i")
          .coalesce(1), d,
        if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
    }

  test("thin compactSmall: untouched segments never consulted, masks " +
    "consolidated, ledger exact, carried metadata intact") {
    val dir = freshDir()
    // six single-file commits → six segments; three big, three small
    Snapshots.commit(frame(0 until 4000, "b0").coalesce(1), dir,
      "overwrite", statsColumns = Seq("id"))
    Snapshots.commit(frame(4000 until 8000, "b1").coalesce(1), dir,
      "append", statsColumns = Seq("id"))
    Snapshots.commit(frame(8000 until 12000, "b2").coalesce(1), dir,
      "append", statsColumns = Seq("id"))
    (0 until 3).foreach { i =>
      Snapshots.commit(
        frame(20000 + i * 10 until 20000 + i * 10 + 10, s"s$i").coalesce(1),
        dir, "append", statsColumns = Seq("id"))
    }
    // masks in both worlds: big-file rows survive consolidation,
    // small-file rows are applied by the rewrite and become inert
    Snapshots.deleteWhere(spark, dir, col("id").isin(3L, 20001L, 20012L))
    Snapshots.writeMetadataCheckpoint(spark, dir)
    val v0 = Snapshots.latestVersion(spark, dir).get
    val m0 = Snapshots.readManifest(spark, dir, v0)
    assert(m0.files.size === 6 && m0.files.forall(m0.fileBytes.contains))
    val sizes = m0.files.map(m0.fileBytes)
    val minBytes = (sizes.min + sizes.max) / 2
    val smalls = m0.files.filter(r => m0.fileBytes(r) < minBytes).toSet
    assert(smalls.size === 3)
    val expectedSegs = owningSegs(dir, v0, smalls)
    val pre = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val (v1, touched) = recordTouches {
      Snapshots.compactSmall(spark, dir, minBytes, statsColumns = Seq("id"))
    }
    assert(v1 === v0 + 1)
    assert(touched.nonEmpty && touched.subsetOf(expectedSegs),
      s"compactSmall consulted segments beyond the smalls' own: " +
        s"touched=$touched expected⊆$expectedSegs")

    val m1 = Snapshots.readManifest(spark, dir, v1)
    // bigs carried by reference with their stats; smalls folded away
    val bigs = m0.files.filterNot(smalls)
    assert(bigs.forall(m1.files.contains))
    assert(bigs.forall(r => m1.stats.contains((r, "id"))),
      "carried files' stats must survive the delta publish")
    assert(m1.files.count(smalls) === 0)
    val fresh = m1.files.filterNot(m0.files.contains)
    assert(fresh.nonEmpty && fresh.forall(r => m1.stats.contains((r, "id"))),
      "the rewrite's own files must carry fresh footer stats")
    // mask consolidation: only the big-file mask row survives
    assert(m1.dvRows === 1L)
    // ledger + content exact
    val post = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(post === pre)
    assert(m1.dataRows - m1.dvRows === pre.size.toLong)
    // the readManifest ∘ publish identity held for the delta path too:
    // per-file ledgers cover every live file
    assert(m1.files.forall(m1.fileBytes.contains) &&
      m1.files.forall(m1.fileRows.contains))
    // idempotent: nothing small left
    assert(Snapshots.compactSmall(spark, dir, minBytes) === v1)
  }

  test("delta publish fold rule: a segment at-most-half alive is " +
    "dropped and its survivor folds into the fresh segment with " +
    "metadata intact") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    // ONE commit, THREE files via partition dirs (deterministic sizes:
    // one file per partition value): two small, one big
    val df = ((0 until 10).map(i => (i.toLong, "s1")) ++
      (100 until 110).map(i => (i.toLong, "s2")) ++
      (1000 until 5000).map(i => (i.toLong, "big"))).toDF("id", "p")
    Snapshots.commit(df.coalesce(1), dir, "overwrite",
      partitionBy = Seq("p"), statsColumns = Seq("id"))
    Snapshots.writeMetadataCheckpoint(spark, dir)
    val m0 = Snapshots.readManifest(spark, dir, 0L)
    assert(m0.files.size === 3 && m0.segments.size === 1)
    val oldSeg = m0.segments.head
    val sizes = m0.files.map(m0.fileBytes)
    val minBytes = (sizes.min + sizes.max) / 2
    val bigRel = m0.files.maxBy(m0.fileBytes)
    val pre = Snapshots.readVersion(spark, dir).count()

    val (v1, touched) = recordTouches {
      Snapshots.compactSmall(spark, dir, minBytes)
    }
    // the one segment IS touched (2 of 3 removed → fold), by design
    assert(touched === Set(oldSeg))
    val m1 = Snapshots.readManifest(spark, dir, v1)
    // ref dropped — no tombstone pile-up on a mostly-dead segment
    assert(!m1.segments.contains(oldSeg),
      "an at-most-half-alive segment's ref must be dropped, not carried")
    // the big survivor folded forward with its stats and ledger
    assert(m1.files.contains(bigRel))
    assert(m1.stats.contains((bigRel, "id")),
      "folded survivor must keep its stats")
    assert(m1.fileRows.get(bigRel) === m0.fileRows.get(bigRel))
    assert(Snapshots.readVersion(spark, dir).count() === pre)
  }

  test("thin clusterTail: only the tail's segments consulted; bucket " +
    "mapping completed; sorted markers recorded on the fresh files") {
    val dir = freshDir()
    // bucketed + sorted bulk, then two plain (unbucketed) appends
    Snapshots.commit(frame(0 until 2000, "bulk"), dir, "overwrite",
      bucketBy = Some(("id", 4)), statsColumns = Seq("id"),
      sortBuckets = true)
    Snapshots.commit(frame(2000 until 2050, "t0").coalesce(1), dir, "append")
    Snapshots.commit(frame(2050 until 2100, "t1").coalesce(1), dir, "append")
    Snapshots.writeMetadataCheckpoint(spark, dir)
    val v0 = Snapshots.latestVersion(spark, dir).get
    val m0 = Snapshots.readManifest(spark, dir, v0)
    val tail = m0.files.filterNot(m0.buckets.contains).toSet
    assert(tail.size === 2)
    val expectedSegs = owningSegs(dir, v0, tail)
    val pre = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val (v1, touched) = recordTouches {
      Snapshots.clusterTail(spark, dir, statsColumns = Seq("id"),
        sort = true)
    }
    assert(v1 === v0 + 1)
    assert(touched.nonEmpty && touched.subsetOf(expectedSegs),
      s"clusterTail consulted segments beyond the tail's own: " +
        s"touched=$touched expected⊆$expectedSegs")
    val m1 = Snapshots.readManifest(spark, dir, v1)
    assert(m1.files.forall(m1.buckets.contains),
      "every file must carry a bucket id after the tail re-cluster")
    val fresh = m1.files.filterNot(m0.files.contains)
    assert(fresh.nonEmpty && fresh.forall(r =>
      m1.sortedFiles.get(r).contains("id")),
      "sort=true tail rewrite must record sorted markers")
    // the sorted bulk kept ITS markers through the verbatim carry
    val bulk = m0.files.filter(m0.sortedFiles.contains)
    assert(bulk.nonEmpty && bulk.forall(r =>
      m1.sortedFiles.get(r) === m0.sortedFiles.get(r)))
    val post = Snapshots.readVersion(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(post === pre)
    // idempotent
    assert(Snapshots.clusterTail(spark, dir) === v1)
  }

  test("thin purgeDeletes: only the masked file's segment consulted; " +
    "stats inherited; mask dropped; ledger exact") {
    val dir = freshDir()
    (0 until 3).foreach { i =>
      Snapshots.commit(frame(i * 100 until i * 100 + 100, s"f$i").coalesce(1),
        dir, if (i == 0) "overwrite" else "append",
        statsColumns = Seq("id"))
    }
    Snapshots.deleteWhere(spark, dir, col("id") < 10L) // masks file 0 only
    Snapshots.writeMetadataCheckpoint(spark, dir)
    val v0 = Snapshots.latestVersion(spark, dir).get
    val m0 = Snapshots.readManifest(spark, dir, v0)
    val masked = m0.files.head
    val expectedSegs = owningSegs(dir, v0, Set(masked))

    val (v1, touched) = recordTouches {
      Snapshots.purgeDeletes(spark, dir)
    }
    assert(v1 === v0 + 1)
    assert(touched.subsetOf(expectedSegs),
      s"purge consulted segments beyond the masked file's own: " +
        s"touched=$touched expected⊆$expectedSegs")
    val m1 = Snapshots.readManifest(spark, dir, v1)
    assert(m1.dvs.isEmpty && m1.dvRows === 0L)
    assert(!m1.files.contains(masked))
    val fresh = m1.files.filterNot(m0.files.contains)
    assert(fresh.nonEmpty && fresh.forall(r => m1.stats.contains((r, "id"))),
      "purge must inherit stat coverage onto the rewritten files")
    assert(m1.dataRows === 290L)
    assert(Snapshots.readVersion(spark, dir).count() === 290L)
    // maskless purge: a pure-metadata version
    // bump that carries EVERY segment verbatim — zero touches
    val (v2, touched2) = recordTouches { Snapshots.purgeDeletes(spark, dir) }
    assert(v2 === v1 + 1)
    assert(touched2.isEmpty,
      s"a maskless purge must consult no segment, got $touched2")
    assert(Snapshots.readVersion(spark, dir).count() === 290L)
  }

  test("appends (r16): an append consults ZERO segments, carries masks " +
    "and metadata verbatim, and a checkpointed and an uncheckpointed " +
    "twin agree map-for-map") {
    val ckDir = freshDir()
    val plainDir = freshDir()
    def seed(d: String): Unit = {
      Snapshots.commit(frame(0 until 500, "a").coalesce(1), d, "overwrite",
        statsColumns = Seq("id"), bloomColumns = Seq("id"),
        ndvColumns = Seq("id"))
      Snapshots.commit(frame(500 until 900, "b").coalesce(1), d, "append",
        statsColumns = Seq("id"))
      Snapshots.deleteWhere(spark, d, col("id").isin(3L, 501L))
    }
    seed(ckDir); seed(plainDir)
    Snapshots.writeMetadataCheckpoint(spark, ckDir)
    val batch = frame(2000 until 2100, "tail").coalesce(1)
    // an append has no candidates and no folds: segment refs are
    // carried verbatim with or without a checkpoint
    Seq(ckDir, plainDir).foreach { d =>
      val (_, touched) = recordTouches {
        Snapshots.commit(batch, d, "append", statsColumns = Seq("id"))
      }
      assert(touched.isEmpty, s"an append must consult no segment, got $touched")
    }
    val mC = Snapshots.readManifest(spark, ckDir,
      Snapshots.latestVersion(spark, ckDir).get)
    val mP = Snapshots.readManifest(spark, plainDir,
      Snapshots.latestVersion(spark, plainDir).get)
    // map-for-map equality up to the dirs' own uuid'd file names:
    // counts, ledgers, stat/bloom coverage, mask accounting
    assert(mC.files.size === mP.files.size)
    assert(mC.dataRows === mP.dataRows && mC.dvRows === mP.dvRows)
    assert(mC.stats.size === mP.stats.size)
    assert(mC.blooms.size === mP.blooms.size)
    assert(mC.ndvs.size === mP.ndvs.size)
    assert(mC.fileRows.values.toSeq.sorted ===
      mP.fileRows.values.toSeq.sorted)
    assert(mC.schema === mP.schema)
    // content identical, masks survived the verbatim carry
    val a = content(ckDir)
    assert(a === content(plainDir))
    assert(!a.exists(_._1 == 3L) && !a.exists(_._1 == 501L),
      "masked rows must stay masked through an append")
    // the new files' fresh metadata landed in the delta's segment
    val fresh = mC.files.filterNot(r => r.contains("v000000") ||
      r.contains("v000001"))
    assert(fresh.nonEmpty && fresh.forall(r => mC.stats.contains((r, "id"))))
  }

  test("DML (r17): a checkpoint-covered MERGE and UPDATE consult ZERO " +
    "segments and publish zero-removal deltas that equal an " +
    "uncheckpointed twin's map-for-map") {
    val s = spark
    import s.implicits._
    val ckDir = freshDir(); val plainDir = freshDir()
    seedSlices(ckDir); seedSlices(plainDir)
    Snapshots.writeMetadataCheckpoint(spark, ckDir)
    // the CDC batch: one update + one delete in slice 1, one insert
    def batch() = Seq(
      (1005L, "U", "upd"), (1006L, "D", null), (9999L, "I", "ins"))
      .toDF("id", "op", "tag").select(col("id"), col("tag"), col("op"))
    val v0 = Snapshots.latestVersion(spark, ckDir).get
    // with a covering checkpoint the merge consults NO segment: mask
    // candidates come from the checkpoint, the publish carries every
    // ref verbatim (zero removals)
    val (vC, touched) = recordTouches {
      Snapshots.mergeOnRead(spark, ckDir, batch(), "id",
        statsColumns = Seq("id"))
    }
    assert(vC === v0 + 1)
    assert(touched.isEmpty,
      s"a checkpoint-covered merge must consult no segment, got $touched")
    // sensitivity: the uncheckpointed twin walks its segments on the
    // driver — the zero-touch assertion above measures a real
    // difference, not a blind hook
    val (vP, pTouched) = recordTouches {
      Snapshots.mergeOnRead(spark, plainDir, batch(), "id",
        statsColumns = Seq("id"))
    }
    assert(pTouched.nonEmpty,
      "the uncheckpointed twin's merge must consult segments (hook sanity)")
    val mC = Snapshots.readManifest(spark, ckDir, vC)
    val mP = Snapshots.readManifest(spark, plainDir, vP)
    assert(mC.files.size === mP.files.size)
    assert(mC.dataRows === mP.dataRows && mC.dvRows === mP.dvRows)
    assert(mC.stats.size === mP.stats.size)
    assert(mC.fileRows.values.toSeq.sorted === mP.fileRows.values.toSeq.sorted)
    assert(mC.schema === mP.schema)
    val cC = content(ckDir)
    assert(cC === content(plainDir))
    assert(cC.contains((1005L, "upd")) && cC.contains((9999L, "ins")) &&
      !cC.exists(_._1 == 1006L), "merge semantics must hold")
    // UPDATE under a fresh covering checkpoint: same zero-touch
    // contract; the predicate's range hints prune candidates inside
    // the checkpoint walk
    val v1 = Snapshots.latestVersion(spark, ckDir).get
    Snapshots.writeMetadataCheckpoint(spark, ckDir)
    val m1 = Snapshots.readManifest(spark, ckDir, v1)
    val (vU, uTouched) = recordTouches {
      Snapshots.updateWhere(spark, ckDir,
        col("id").between(10L, 20L), Map("tag" -> lit("patched")))
    }
    assert(vU === v1 + 1)
    assert(uTouched.isEmpty,
      s"a checkpoint-covered update must consult no segment, got $uTouched")
    val (_, puTouched) = recordTouches {
      Snapshots.updateWhere(spark, plainDir,
        col("id").between(10L, 20L), Map("tag" -> lit("patched")))
    }
    assert(puTouched.nonEmpty,
      "the uncheckpointed twin's update must consult segments (hook sanity)")
    assert(content(ckDir) === content(plainDir),
      "update content must match the uncheckpointed twin")
    assert((10L to 20L).forall(i => content(ckDir).contains((i, "patched"))))
    val mU = Snapshots.readManifest(spark, ckDir, vU)
    // zero-removal delta: every pre-existing live file still live
    assert(m1.files.forall(mU.files.contains),
      "an UPDATE must carry every base file by reference")
  }

  test("DELETE (r18): a checkpoint-covered predicate DELETE consults " +
    "ZERO segments and publishes a zero-removal dv delta equal to an " +
    "uncheckpointed twin's, which consults segments") {
    val ckDir = freshDir(); val plainDir = freshDir()
    seedSlices(ckDir); seedSlices(plainDir)
    Snapshots.writeMetadataCheckpoint(spark, ckDir)
    val v0 = Snapshots.latestVersion(spark, ckDir).get
    // the retention shape: a range predicate whose stat verdicts prune
    // candidates inside the checkpoint walk; the driver consults NO
    // segment, the publish carries every ref verbatim
    val pred = col("id").between(1005L, 1020L)
    val (vC, touched) = recordTouches {
      Snapshots.deleteWhere(spark, ckDir, pred)
    }
    assert(vC === v0 + 1)
    assert(touched.isEmpty,
      s"a checkpoint-covered delete must consult no segment, got $touched")
    // sensitivity: without a checkpoint every segment is tail
    val (vP, pTouched) = recordTouches {
      Snapshots.deleteWhere(spark, plainDir, pred)
    }
    assert(pTouched.nonEmpty,
      "the uncheckpointed twin's delete must consult segments (hook sanity)")
    val mC = Snapshots.readManifest(spark, ckDir, vC)
    val mP = Snapshots.readManifest(spark, plainDir, vP)
    // zero-removal delta: every base file carried live, only dv refs new
    assert(mC.files.size === mP.files.size &&
      mC.dataRows === mP.dataRows && mC.dvRows === mP.dvRows)
    assert(mC.dvRows === 16L)
    assert(mC.stats.size === mP.stats.size)
    val cC = content(ckDir)
    assert(cC === content(plainDir), "delete content must match the twin")
    assert(!cC.exists(t => t._1 >= 1005L && t._1 <= 1020L) &&
      cC.exists(_._1 == 1004L) && cC.exists(_._1 == 1021L),
      "exactly the predicate's rows must be masked")
    // a nothing-matched DELETE stays a no-op (no empty commit)
    val (vN, nTouched) = recordTouches {
      Snapshots.deleteWhere(spark, ckDir, col("id") === 999999L)
    }
    assert(vN === vC && nTouched.isEmpty)
  }

  test("a table at the 32-segment-ref cap folds every live entry into " +
    "one fresh segment on its next DML, metadata intact") {
    val dir = freshDir()
    (0 until 32).foreach { i =>
      Snapshots.commit(frame(i * 10 until i * 10 + 10, s"c$i").coalesce(1),
        dir, if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
    }
    val v0 = Snapshots.latestVersion(spark, dir).get
    val m0 = Snapshots.readManifest(spark, dir, v0)
    assert(m0.segments.size === 32, "one segment per commit up to the cap")
    val pre = content(dir)
    val v1 = Snapshots.deleteWhere(spark, dir, col("id") === 5L)
    val m1 = Snapshots.readManifest(spark, dir, v1)
    assert(m1.segments.size === 1, "the capped ref list must fold")
    assert(m1.files.toSet === m0.files.toSet)
    assert(m1.stats === m0.stats && m1.fileRows === m0.fileRows &&
      m1.fileBytes === m0.fileBytes, "folded entries keep their metadata")
    assert(content(dir) === pre.filterNot(_._1 == 5L))
    assert(m1.dataRows - m1.dvRows === pre.size - 1L)
  }

  test("widening merge, update and append drop the widened columns' " +
    "carried blooms/NDVs and scale-widened stats, keep the rest, and " +
    "land exactly") {
    import org.apache.spark.sql.types._
    def seed(): String = {
      val d = freshDir()
      val df = spark.range(0, 40).select(col("id"),
        col("id").cast("int").as("v"),
        (col("id") / 4).cast("decimal(9,2)").as("amt"))
      Snapshots.commit(df.repartition(2), d, "overwrite",
        statsColumns = Seq("id", "amt"), bloomColumns = Seq("v"),
        ndvColumns = Seq("v"))
      d
    }
    def wide(df: org.apache.spark.sql.DataFrame) = df.select(col("id"),
      col("v").cast("long").as("v"), col("amt").cast("decimal(12,4)").as("amt"))
    def check(d: String, expectRows: Long): Unit = {
      val m0 = Snapshots.readManifest(spark, d, 0L)
      val m = Snapshots.readManifest(spark, d,
        Snapshots.latestVersion(spark, d).get)
      assert(m.schema("v").dataType === LongType)
      assert(m.schema("amt").dataType === DecimalType(12, 4))
      val carried = m0.files.filter(m.files.contains)
      assert(carried.nonEmpty)
      assert(carried.forall(r => m0.stats.contains((r, "amt")) &&
        m0.blooms.contains((r, "v")) && m0.ndvs.contains((r, "v"))),
        "the seed must carry the metadata the widening drops")
      assert(carried.forall(r => !m.blooms.contains((r, "v")) &&
        !m.ndvs.contains((r, "v"))), "widened blooms/NDVs must drop")
      assert(carried.forall(r => !m.stats.contains((r, "amt"))),
        "scale-widened decimal stats must drop")
      assert(carried.forall(r => m.stats.get((r, "id")) === m0.stats.get((r, "id"))),
        "stats of columns that did not widen must survive")
      assert(Snapshots.readVersion(spark, d).count() === expectRows)
      assert(m.dataRows - m.dvRows === expectRows)
    }
    val s = spark
    import s.implicits._
    val ap = seed()
    Snapshots.commit(wide(spark.range(100, 110).select(col("id"),
        col("id").cast("int").as("v"), lit(1).cast("decimal(9,2)").as("amt"))),
      ap, "append")
    check(ap, 50L)
    val mg = seed()
    Snapshots.mergeOnRead(spark, mg,
      wide(Seq((3L, 3, BigDecimal("0.75")), (200L, 7, BigDecimal("1.00")))
        .toDF("id", "v", "amt")).withColumn("op", lit("U")), "id")
    check(mg, 41L)
    val up = seed()
    Snapshots.updateWhere(spark, up, col("id") < 5L,
      Map("v" -> col("v").cast("long"), "amt" -> col("amt").cast("decimal(12,4)")))
    check(up, 40L)
    assert(Snapshots.readVersion(spark, up).filter(col("id") < 5L).count() === 5L)
  }

  test("metadata-only commits consult no segment and write none; reads " +
    "still prune on a renamed column and mask a dropped one") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    seedSlices(dir) // three segments, stats on id
    def segFiles(): Set[String] = {
      val p = java.nio.file.Paths.get(dir, "_manifests", "segments")
      val ls = java.nio.file.Files.list(p)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(ls.iterator())
        .asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }
    val segsBefore = segFiles()
    assert(segsBefore.size === 3)
    // the CHECK is added without validating the existing rows: that
    // validation is a scan of the data, not part of the commit
    val (vs, touched) = recordTouches {
      Seq(
        Snapshots.addColumns(spark, dir, Seq(StructField("extra", StringType))),
        Snapshots.renameColumn(spark, dir, "id", "key"),
        Snapshots.dropColumn(spark, dir, "tag"),
        Snapshots.addCheckConstraint(spark, dir, "pos", "key >= 0",
          validateExisting = false),
        Snapshots.dropCheckConstraint(spark, dir, "pos"),
        Snapshots.restore(spark, dir, 5L))
    }
    assert(vs === (3L to 8L))
    assert(touched.isEmpty,
      s"metadata-only commits must consult no segment, got $touched")
    assert(segFiles() === segsBefore, "metadata-only commits write no segment")
    val m = Snapshots.readManifest(spark, dir, 8L)
    assert(m.schema.fieldNames.toSeq === Seq("key", "extra"))
    assert(m.files.size === 3 && m.files.forall(r => m.stats.contains((r, "key"))),
      "the renamed column keeps every file's stats")
    assert(!m.stats.keys.exists(_._2 == "tag") && !m.stats.keys.exists(_._2 == "id"))
    // pruning on the renamed column: one slice holds 1005..1010
    val kept = Snapshots.pruneFiles(m, "key", 1005L, 1010L)
    assert(kept.size === 1)
    val rows = Snapshots.readVersionPruned(spark, dir, 8L, "key", 1005L, 1010L)
      .filter(col("key").between(1005L, 1010L))
    assert(rows.columns.toSeq === Seq("key", "extra"))
    assert(rows.count() === 6L)
    assert(Snapshots.readVersion(spark, dir).count() === 3000L)
    // the dropped column's bytes stay masked when its name comes back
    Snapshots.addColumns(spark, dir, Seq(StructField("tag", StringType)))
    assert(Snapshots.readVersion(spark, dir).filter(col("tag").isNotNull)
      .count() === 0L, "a re-added name must not read the dropped column")
  }

  test("legacy and corrupt bases are refused on read and by every " +
    "operation, naming the table and the field; the table is untouched") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    def manifestFile(d: String) = Paths.get(d, "_manifests", "v000000.manifest")
    def lines(p: java.nio.file.Path) =
      new String(Files.readAllBytes(p), UTF_8).linesIterator.toSeq
    def write(p: java.nio.file.Path, ls: Seq[String]): Unit =
      Files.write(p, (ls.mkString("\n") + "\n").getBytes(UTF_8))
    def seeded(): String = {
      val d = freshDir()
      Snapshots.commit(frame(0 until 20, "x").coalesce(1), d, "overwrite",
        statsColumns = Seq("id"))
      d
    }
    def editManifest(d: String)(f: Seq[String] => Seq[String]): Unit =
      write(manifestFile(d), f(lines(manifestFile(d))))
    // the per-file lines of the table's one segment, re-keyed by file
    def segmentLines(d: String): (String, Seq[String]) = {
      val rel = lines(manifestFile(d)).find(_.startsWith("segment="))
        .get.stripPrefix("segment=").split('\t').head
      (rel, lines(Paths.get(d, rel)).drop(1))
    }
    // (the field the error must name, the manifest-level shape?, mutation)
    val shapes: Seq[(String, Boolean, String => Unit)] = Seq(
      ("graft-manifest-v1", true, d => editManifest(d)(ls =>
        "graft-manifest-v1" +: ls.drop(1))),
      ("'file'", true, { d =>
        val (rel, seg) = segmentLines(d)
        val file = seg.head.stripPrefix("file=")
        val inline = seg.map { l =>
          if (l.startsWith("file=")) l
          else { val Array(k, v) = l.split("=", 2); s"$k=$file\t$v" }
        }
        editManifest(d)(_.filterNot(_.startsWith(s"segment=$rel")) ++ inline)
      }),
      ("'segment'", true, d => editManifest(d)(_.map(l =>
        if (l.startsWith("segment=")) l.split('\t').head else l))),
      ("'schema'", true, d => editManifest(d)(_.filterNot(_.startsWith("schema=")))),
      ("'rows'", true, d => editManifest(d)(_.filterNot(_.startsWith("rows=")))),
      ("'dvrows'", true, d => editManifest(d)(_.filterNot(_.startsWith("dvrows=")))),
      ("'feature'", true, d => editManifest(d)(_ :+ "feature=decimal-scale-stats")),
      ("'removed'", true, d => editManifest(d)(_ :+ "removed=no-tab")),
      ("'frow'", false, { d =>
        // segments are immutable and cached by path: the bytes-less
        // copy gets a new name and the manifest is re-pointed at it
        val (rel, seg) = segmentLines(d)
        val legacyRel = rel + "-legacy"
        write(Paths.get(d, legacyRel), "graft-segment-v1" +: seg.map(l =>
          if (l.startsWith("frow=")) l.split('\t').head else l))
        editManifest(d)(_.map(_.replace(rel, legacyRel)))
      }))
    // every read and every operation that builds on the base manifest
    def ops(d: String): Seq[(String, () => Any)] = {
      import org.apache.spark.sql.types._
      Seq(
        "readVersion" -> (() => Snapshots.readVersion(spark, d).count()),
        "load" -> (() => spark.read.format("graft").load(d).count()),
        "deleteWhere" -> (() => Snapshots.deleteWhere(spark, d, col("id") === 1L)),
        "addColumns" -> (() =>
          Snapshots.addColumns(spark, d, Seq(StructField("x", IntegerType)))),
        "widenColumn" -> (() => Snapshots.widenColumn(spark, d, "id", LongType)),
        "renameColumn" -> (() => Snapshots.renameColumn(spark, d, "tag", "y")),
        "dropColumn" -> (() => Snapshots.dropColumn(spark, d, "tag")),
        "addCheckConstraint" -> (() =>
          Snapshots.addCheckConstraint(spark, d, "pos", "id >= 0")),
        "dropCheckConstraint" -> (() => Snapshots.dropCheckConstraint(spark, d, "pos")),
        "invalidateStats" -> (() => Snapshots.invalidateStats(spark, d, Seq("id"))),
        "analyzeStats" -> (() => Snapshots.analyzeStats(spark, d, Seq("id"))),
        "analyzeNdv" -> (() => Snapshots.analyzeNdv(spark, d, Seq("id"))),
        "analyzeHistograms" -> (() =>
          Snapshots.analyzeHistograms(spark, d, Seq("id"))),
        "restore" -> (() => Snapshots.restore(spark, d, 0L)),
        "cloneShallow" -> (() => Snapshots.cloneShallow(spark, d, freshDir())))
    }
    def filesOf(d: String): Map[String, Seq[Byte]] = {
      val stream = Files.walk(Paths.get(d))
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
      finally stream.close()
    }
    shapes.foreach { case (field, manifestLevel, mutate) =>
      val d = seeded()
      mutate(d)
      val before = filesOf(d)
      // a per-entry ledger gap is a segment fact: only the reads and the
      // DML parse the segment; header-only commits never open it
      val refusing = if (manifestLevel) ops(d) else ops(d).take(3)
      refusing.foreach { case (op, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(d) && e.getMessage.contains(field),
          s"$op refusal must name the table and $field: ${e.getMessage}")
        assert(filesOf(d) === before, s"a refused $op must leave the table untouched ($field)")
      }
    }
  }

  test("randomized thin-vs-full parity: identical op sequences on a " +
    "checkpointed and an uncheckpointed table converge to the same " +
    "observable state") {
    val rnd = new scala.util.Random(411)
    (0 until 2).foreach { trial =>
      val ckDir = freshDir()
      val plainDir = freshDir()
      var lo = 0
      def nextSlab(n: Int): Range = { val r = lo until lo + n; lo += n; r }
      def bothCommit(ids: Range, tag: String): Unit =
        Seq(ckDir, plainDir).foreach { d =>
          Snapshots.commit(frame(ids, tag).coalesce(1), d,
            if (ids.start == 0) "overwrite" else "append",
            statsColumns = Seq("id"))
        }
      bothCommit(nextSlab(3000), "base")
      (0 until 4).foreach(i => bothCommit(nextSlab(10 + rnd.nextInt(20)), s"s$i"))
      // random masks, same predicate both sides
      val cut = rnd.nextInt(40)
      Seq(ckDir, plainDir).foreach(d =>
        Snapshots.deleteWhere(spark, d, col("id") % 97L === cut.toLong))
      // only ckDir gets a checkpoint → its maintenance plans through it
      Snapshots.writeMetadataCheckpoint(spark, ckDir)
      val mC = Snapshots.readManifest(spark, ckDir,
        Snapshots.latestVersion(spark, ckDir).get)
      val sizes = mC.files.map(mC.fileBytes)
      val minBytes = (sizes.min + sizes.max) / 2
      val op = rnd.nextInt(2)
      Seq(ckDir, plainDir).foreach { d =>
        if (op == 0) Snapshots.compactSmall(spark, d, minBytes,
          statsColumns = Seq("id"))
        else Snapshots.purgeDeletes(spark, d, statsColumns = Seq("id"))
      }
      val a = Snapshots.readVersion(spark, ckDir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val b = Snapshots.readVersion(spark, plainDir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(a === b, s"trial $trial op $op: content diverged")
      val m1 = Snapshots.readManifest(spark, ckDir,
        Snapshots.latestVersion(spark, ckDir).get)
      val m2 = Snapshots.readManifest(spark, plainDir,
        Snapshots.latestVersion(spark, plainDir).get)
      assert(m1.dataRows === m2.dataRows, s"trial $trial: dataRows diverged")
      assert(m1.dvRows === m2.dvRows, s"trial $trial: dvRows diverged")
      assert(m1.files.size === m2.files.size,
        s"trial $trial: file counts diverged")
      assert(m1.stats.size === m2.stats.size,
        s"trial $trial: stat coverage diverged")
    }
  }
}
