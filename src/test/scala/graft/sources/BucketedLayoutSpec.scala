package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hash-bucketed layout: the manifest-recorded file→bucket mapping,
  * bucket-pruned point lookups ([[Snapshots.readVersionKeys]]), the
  * unbucketed-tail contract (appends always scanned until
  * [[Snapshots.compactBucketed]] re-clusters), and the DV/merge
  * interplay. The SCAN-side assertions here are what the u21 oracle
  * cannot see: `DataFrame.inputFiles` counts the parquet files the
  * plan actually reads.
  */
class BucketedLayoutSpec extends SparkSpec {

  private def freshDir(): String = graft.TempDirs.create("graft-bucket-spec")

  private def frame(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"row-$i")).toDF("id", "tag")
  }

  test("bucketed commit: one file per bucket, mapping in the manifest, flat layout") {
    val dir = freshDir()
    Snapshots.commit(frame(1000), dir, "overwrite", bucketBy = Some(("id", 8)))
    val m = Snapshots.readManifest(spark, dir, 0L)
    assert(m.bucketSpec === Some(("id", 8)))
    // every file carries a bucket id; ≤ one file per bucket
    assert(m.files.toSet === m.buckets.keySet)
    assert(m.buckets.values.toSet.subsetOf((0 until 8).toSet))
    assert(m.files.size === m.buckets.values.toSet.size)
    // layout is FLAT (no hive-style bucket dirs survive the flatten)
    assert(m.files.forall(!_.contains("=")))
    // the full table reads back exactly
    assert(Snapshots.readVersion(spark, dir).count() === 1000L)
  }

  test("readVersionKeys scans only the wanted buckets, not the table") {
    val dir = freshDir()
    Snapshots.commit(frame(1000), dir, "overwrite", bucketBy = Some(("id", 16)))
    val total = Snapshots.readManifest(spark, dir, 0L).files.size
    val keys: Seq[Any] = Seq(3L, 500L, 997L)
    val lookup = Snapshots.readVersionKeys(spark, dir, "id", keys)
    // ≤ one file per wanted key (collisions can only shrink it)
    assert(lookup.inputFiles.length <= keys.size)
    assert(lookup.inputFiles.length < total)
    assert(lookup.select("id").collect().map(_.getLong(0)).sorted
      === Array(3L, 500L, 997L))
    // Int literals against the BIGINT column hash through the cast to
    // the stored type — the type-sensitivity trap xxhash64 sets
    val intKeys: Seq[Any] = Seq(3, 500)
    assert(Snapshots.readVersionKeys(spark, dir, "id", intKeys).count() === 2L)
    // a key that cannot exist: pruning must still answer (empty), not throw
    assert(Snapshots.readVersionKeys(spark, dir, "id", Seq(123456789L)).count() === 0L)
  }

  test("plain appends join the unbucketed tail; compactBucketed folds them back in") {
    val dir = freshDir()
    Snapshots.commit(frame(800), dir, "overwrite", bucketBy = Some(("id", 8)))
    val s = spark
    import s.implicits._
    val tail = Seq((9001L, "late"), (9002L, "late"))
      .toDF("id", "tag").coalesce(1)
    Snapshots.commit(tail, dir, "append")
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.bucketSpec === Some(("id", 8))) // spec carried
    assert(m1.files.size === m1.buckets.size + 1) // tail file unbucketed
    // the tail is ALWAYS scanned (correctness over pruning): a lookup
    // of one clustered key still finds a tail key when asked
    val both = Snapshots.readVersionKeys(spark, dir, "id", Seq(5L, 9001L))
    assert(both.select("id").collect().map(_.getLong(0)).sorted === Array(5L, 9001L))
    assert(both.inputFiles.length <= 2 + 1) // ≤ wanted buckets + the tail
    // re-cluster: everything bucketed again, lookups tighten back
    Snapshots.compactBucketed(spark, dir, "id", 8)
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(m2.files.toSet === m2.buckets.keySet)
    val after = Snapshots.readVersionKeys(spark, dir, "id", Seq(5L, 9001L))
    assert(after.count() === 2L)
    assert(after.inputFiles.length <= 2)
  }

  test("conflicting bucketed append is refused; matching spec is accepted") {
    val dir = freshDir()
    Snapshots.commit(frame(100), dir, "overwrite", bucketBy = Some(("id", 8)))
    intercept[IllegalArgumentException] {
      Snapshots.commit(frame(10), dir, "append", bucketBy = Some(("id", 4)))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commit(frame(10), dir, "append", bucketBy = Some(("tag", 8)))
    }
    val s = spark
    import s.implicits._
    val more = (2000 until 2100).map(i => (i.toLong, "b")).toDF("id", "tag")
    Snapshots.commit(more, dir, "append", bucketBy = Some(("id", 8)))
    val m = Snapshots.readManifest(spark, dir, 1L)
    // both commits' files are bucketed now
    assert(m.files.toSet === m.buckets.keySet)
    assert(Snapshots.readVersionKeys(spark, dir, "id", Seq(2050L)).count() === 1L)
  }

  test("merge-on-read against the bucket key: mask scan prunes, reads stay exact") {
    val dir = freshDir()
    Snapshots.commit(frame(1000), dir, "overwrite", bucketBy = Some(("id", 16)))
    val s = spark
    import s.implicits._
    val changes = Seq((7L, "updated", "U"), (13L, "", "D"), (5000L, "new", "I"))
      .toDF("id", "tag", "op")
    Snapshots.mergeOnRead(spark, dir, changes, "id")
    val m = Snapshots.readManifest(spark, dir, 1L)
    assert(m.bucketSpec === Some(("id", 16))) // layout survives the merge
    val got = Snapshots.readVersionKeys(spark, dir, "id", Seq(7L, 13L, 5000L))
      .select("id", "tag").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(7L -> "updated", 5000L -> "new")) // 13 deleted
    // untouched keys unharmed
    assert(Snapshots.readVersionKeys(spark, dir, "id", Seq(3L)).count() === 1L)
  }

  test("a bucketed streaming sink keeps lookups pruned; the key filter pushes down") {
    val dir = freshDir()
    Snapshots.commit(frame(1000), dir, "overwrite", bucketBy = Some(("id", 8)))
    val s = spark
    import s.implicits._
    val b1 = (2000 until 2100).map(i => (i.toLong, "b1")).toDF("id", "tag")
    val b2 = (3000 until 3100).map(i => (i.toLong, "b2")).toDF("id", "tag")
    Snapshots.exactlyOnceSink(dir, "sinkA", bucketBy = Some(("id", 8)))(b1, 0L)
    Snapshots.exactlyOnceSink(dir, "sinkA", bucketBy = Some(("id", 8)))(b2, 1L)
    Snapshots.exactlyOnceSink(dir, "sinkA", bucketBy = Some(("id", 8)))(b1, 0L) // replay
    val m = Snapshots.readManifest(spark, dir, 2L)
    assert(Snapshots.latestVersion(spark, dir) === Some(2L)) // replay no-op
    assert(m.files.toSet === m.buckets.keySet) // every batch clustered
    val one = Snapshots.readVersionKeys(spark, dir, "id", Seq(2050L))
    assert(one.count() === 1L)
    // ≤ one file per commit for the wanted bucket, vs 8 per commit
    assert(one.inputFiles.length <= 3)
    // the residual isin filter reaches the parquet scan (row-group/page
    // skipping inside the already-pruned files)
    val pushed = one.queryExecution.executedPlan.toString()
    assert(pushed.contains("PushedFilters") &&
      (pushed.contains("EqualTo(id,2050)") || pushed.contains("In(id")),
      s"expected key pushdown in:\n$pushed")
  }

  test("bucketed layout survives clone, restore, and string keys") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    val byName = (0 until 500).map(i => (s"user-$i", i)).toDF("name", "score")
    Snapshots.commit(byName, dir, "overwrite", bucketBy = Some(("name", 8)))
    val one = Snapshots.readVersionKeys(spark, dir, "name", Seq("user-42"))
    assert(one.inputFiles.length <= 1)
    assert(one.select("score").head.getInt(0) === 42)
    // clone: mapping rides the absolutized refs
    val cloneDir = freshDir()
    Snapshots.cloneShallow(spark, dir, cloneDir)
    val cm = Snapshots.readManifest(spark, cloneDir, 0L)
    assert(cm.bucketSpec === Some(("name", 8)))
    assert(cm.files.toSet === cm.buckets.keySet)
    assert(Snapshots.readVersionKeys(spark, cloneDir, "name", Seq("user-7"))
      .inputFiles.length <= 1)
    // restore: an overwrite drops the layout, restore brings it back
    Snapshots.commit(byName.limit(10), dir, "overwrite")
    assert(Snapshots.readManifest(spark, dir, 1L).bucketSpec.isEmpty)
    Snapshots.restore(spark, dir, 0L)
    assert(Snapshots.readManifest(spark, dir, 2L).bucketSpec === Some(("name", 8)))
  }

  test("bucketAlignedJoin: NO Exchange anywhere in the plan, one task " +
    "per bucket pair, rows == the planner-shuffled join, dv masks " +
    "apply, NULL keys never match (VERDICT r14 task #3)") {
    val s = spark
    import s.implicits._
    val lhs = freshDir()
    val rhs = freshDir()
    // left: ids 0..999 ×2 tags (a many-per-key fact); some NULL keys
    val left = ((0 until 1000).flatMap(i =>
      Seq((i.toLong, s"a-$i"), (i.toLong, s"b-$i"))) :+
        (-1L, "null-key"))
      .toDF("id", "ltag")
      .select(when(col("id") === -1L, lit(null).cast("long"))
        .otherwise(col("id")).as("id"), col("ltag"))
    // right: only even ids (half the keys match); one NULL key too
    val right = ((0 until 1000 by 2).map(i => (i.toLong, i * 10)) :+
        ((-1L, -1)))
      .toDF("rid", "score")
      .select(when(col("rid") === -1L, lit(null).cast("long"))
        .otherwise(col("rid")).as("rid"), col("score"))
    Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("id", 8)))
    Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rid", 8)))
    // mask some right rows: the join must not resurrect them
    Snapshots.deleteWhere(spark, rhs, col("rid") % 100 === 0)
    val joined = Snapshots.bucketAlignedJoin(spark, lhs, rhs, "id", "rid")
    assert(Snapshots.alignedShuffleFree(joined),
      "the aligned join must carry zero shuffle — outer AND inner plans")
    assert(joined.rdd.getNumPartitions === 8, "one partition per bucket")
    // exact parity with the planner's shuffled join (same snapshots)
    val expect = Snapshots.readVersion(spark, lhs)
      .join(Snapshots.readVersion(spark, rhs), col("id") === col("rid"))
      .select("id", "ltag", "rid", "score")
    val got = joined.select("id", "ltag", "rid", "score")
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "aligned join rows must equal the shuffled join's exactly")
    // masked keys really gone; NULL keys never matched
    assert(joined.where(col("rid") % 100 === 0).count() === 0L)
    assert(joined.where(col("id").isNull || col("rid").isNull).count() === 0L)
    // refusals: unclustered tail, mismatched modulus, wrong key,
    // unbucketed side
    Snapshots.commit(Seq((5000L, "tail")).toDF("id", "ltag"), lhs, "append")
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoin(spark, lhs, rhs, "id", "rid")
    }
    val lhs2 = freshDir()
    Snapshots.commit(left, lhs2, "overwrite", bucketBy = Some(("id", 4)))
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoin(spark, lhs2, rhs, "id", "rid")
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoin(spark, rhs, rhs, "score", "rid")
    }
    val plain = freshDir()
    Snapshots.commit(left, plain, "overwrite")
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoin(spark, plain, rhs, "id", "rid")
    }
  }

  test("randomized bucketAlignedJoin parity: string keys, skewed and " +
    "empty buckets, masks, clones — rows always equal the shuffled join") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260815L)
    (0 until 3).foreach { trial =>
      val n = 4 + rnd.nextInt(5) // 4..8 buckets
      val lhs = freshDir()
      val rhs = freshDir()
      // skew: key space deliberately tiny sometimes (empty buckets,
      // hot keys), string-typed to exercise UTF8String hashing
      val keySpace = 3 + rnd.nextInt(40)
      def key() = s"k-${rnd.nextInt(keySpace)}"
      val left = (0 until 200 + rnd.nextInt(400))
        .map(i => (key(), i)).toDF("lk", "lv")
      val right = (0 until 100 + rnd.nextInt(200))
        .map(i => (key(), i * 2)).toDF("rk", "rv")
      Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("lk", n)))
      Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rk", n)))
      if (rnd.nextBoolean()) // masks on a random side
        Snapshots.deleteWhere(spark, rhs, col("rv") % 3 === 0)
      // a shallow clone must join exactly like its source (borrowed
      // refs carry the bucket mapping)
      val leftDir = if (rnd.nextBoolean()) {
        val c = freshDir(); Snapshots.cloneShallow(spark, lhs, c); c
      } else lhs
      val joined = Snapshots.bucketAlignedJoin(
        spark, leftDir, rhs, "lk", "rk",
        strategy = if (rnd.nextBoolean()) "merge" else "hash")
      assert(Snapshots.alignedShuffleFree(joined))
      val expect = Snapshots.readVersion(spark, leftDir)
        .join(Snapshots.readVersion(spark, rhs), col("lk") === col("rk"))
      assert(joined.count() === expect.count(), s"trial $trial count")
      assert(joined.exceptAll(expect).isEmpty &&
        expect.exceptAll(joined).isEmpty, s"trial $trial rows")
    }
  }

  test("bucketAlignedJoin outer/semi/anti: shuffle-free plans, rows equal " +
    "Spark's own join types, NULL-key left rows kept for outer/anti " +
    "and dropped for semi (r15)") {
    val s = spark
    import s.implicits._
    val lhs = freshDir()
    val rhs = freshDir()
    // left: ids 0..499 ×2 rows each, plus TWO NULL-key rows; right:
    // every third id only (real unmatched population) plus a NULL key
    val left = ((0 until 500).flatMap(i =>
      Seq((i.toLong, s"a-$i"), (i.toLong, s"b-$i"))) ++
        Seq((-1L, "null-1"), (-1L, "null-2")))
      .toDF("id", "ltag")
      .select(when(col("id") === -1L, lit(null).cast("long"))
        .otherwise(col("id")).as("id"), col("ltag"))
    val right = ((0 until 500 by 3).map(i => (i.toLong, i * 10)) :+
        ((-1L, -1)))
      .toDF("rid", "score")
      .select(when(col("rid") === -1L, lit(null).cast("long"))
        .otherwise(col("rid")).as("rid"), col("score"))
    Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("id", 8)))
    Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rid", 8)))
    // dv masks must hold for every join type (a masked right row is
    // NOT a match: its left rows must fall out of semi and INTO anti)
    Snapshots.deleteWhere(spark, rhs, col("rid") % 30 === 0)
    val lv = Snapshots.readVersion(spark, lhs)
    val rv = Snapshots.readVersion(spark, rhs)
    for (jt <- Seq("left_outer", "left_semi", "left_anti", "inner")) {
      val aligned = Snapshots.bucketAlignedJoin(
        spark, lhs, rhs, "id", "rid", joinType = jt)
      assert(Snapshots.alignedShuffleFree(aligned),
        s"$jt must stay shuffle-free (outer and inner plans)")
      val expect = lv.join(rv, col("id") === col("rid"), jt)
      assert(aligned.count() === expect.count(), s"$jt count")
      assert(aligned.exceptAll(expect).isEmpty &&
        expect.exceptAll(aligned).isEmpty,
        s"$jt rows must equal Spark's own $jt join")
    }
    // NULL-key placement: outer emits both null-key rows with NULL
    // right columns, anti keeps them, semi/inner drop them
    val outer = Snapshots.bucketAlignedJoin(
      spark, lhs, rhs, "id", "rid", joinType = "left")
    assert(outer.where(col("id").isNull).count() === 2L)
    assert(outer.where(col("id").isNull && col("score").isNotNull)
      .count() === 0L)
    val anti = Snapshots.bucketAlignedJoin(
      spark, lhs, rhs, "id", "rid", joinType = "anti")
    assert(anti.where(col("id").isNull).count() === 2L)
    assert(anti.columns.toSeq === Seq("id", "ltag"),
      "anti output is the left schema only")
    val semi = Snapshots.bucketAlignedJoin(
      spark, lhs, rhs, "id", "rid", joinType = "semi")
    assert(semi.where(col("id").isNull).count() === 0L)
    // semi emits a matched row once however many right matches exist
    assert(semi.count() ===
      lv.join(rv, col("id") === col("rid"), "left_semi").count())
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoin(
        spark, lhs, rhs, "id", "rid", joinType = "cross")
    }
  }

  test("bucketAlignedJoin full_outer (r18): both sides null-extend, " +
    "rows equal Spark's own full join through NULL keys and dv masks, " +
    "hash AND merge strategies, zero Exchange") {
    val s = spark
    import s.implicits._
    val lhs = freshDir()
    val rhs = freshDir()
    // left covers ids 0..499 (×2 rows each) + two NULL keys; right
    // covers every third id 0..800 + a NULL key — BOTH sides have
    // genuinely unmatched populations and NULL-key rows
    val left = ((0 until 500).flatMap(i =>
      Seq((i.toLong, s"a-$i"), (i.toLong, s"b-$i"))) ++
        Seq((-1L, "null-1"), (-1L, "null-2")))
      .toDF("id", "ltag")
      .select(when(col("id") === -1L, lit(null).cast("long"))
        .otherwise(col("id")).as("id"), col("ltag"))
    val right = ((0 until 800 by 3).map(i => (i.toLong, i * 10)) :+
        ((-1L, -1)))
      .toDF("rid", "score")
      .select(when(col("rid") === -1L, lit(null).cast("long"))
        .otherwise(col("rid")).as("rid"), col("score"))
    Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("id", 8)))
    Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rid", 8)))
    // a masked right row is NOT a match: its left rows null-extend
    // and the row itself must not appear null-extended either
    Snapshots.deleteWhere(spark, rhs, col("rid") % 30 === 0)
    val lv = Snapshots.readVersion(spark, lhs)
    val rv = Snapshots.readVersion(spark, rhs)
    val expect = lv.join(rv, col("id") === col("rid"), "full_outer")
    for (strategy <- Seq("hash", "merge")) {
      val aligned = Snapshots.bucketAlignedJoin(
        spark, lhs, rhs, "id", "rid", joinType = "full_outer",
        strategy = strategy)
      assert(Snapshots.alignedShuffleFree(aligned),
        s"full_outer/$strategy must stay shuffle-free")
      assert(aligned.schema.forall(_.nullable),
        "full_outer output columns are all nullable")
      assert(aligned.count() === expect.count(),
        s"full_outer/$strategy count")
      assert(aligned.exceptAll(expect).isEmpty &&
        expect.exceptAll(aligned).isEmpty,
        s"full_outer/$strategy rows must equal Spark's own full join")
      // NULL keys never match: two left + one right null-key rows all
      // null-extend
      assert(aligned.where(col("id").isNull && col("rid").isNull &&
        col("ltag").isNotNull).count() === 2L)
      assert(aligned.where(col("id").isNull && col("rid").isNull &&
        col("ltag").isNull && col("score").isNotNull).count() === 1L)
      // right-only ids (> 499, unmasked) appear exactly once each,
      // left columns NULL
      assert(aligned.where(col("rid") > 499L && col("id").isNull)
        .count() === expect.where(col("rid") > 499L).count())
    }
  }

  test("bucketAlignedJoin merge strategy: rows equal the hash strategy " +
    "and Spark's own joins for all four types; auto picks from the " +
    "byte ledger; still zero Exchange (r15)") {
    val s = spark
    import s.implicits._
    val lhs = freshDir()
    val rhs = freshDir()
    // string keys (the merge group key must be DETACHED from the
    // iterator's reused UTF8String buffer), duplicates on BOTH sides
    // (left dups reuse the cached group; right dups form multi-row
    // groups), NULL keys on both, masks on the right
    val left = ((0 until 300).map(i => (s"k-${i % 40}", i)) ++
        Seq((null.asInstanceOf[String], -1),
          (null.asInstanceOf[String], -2))).toDF("lk", "lv")
    val right = ((0 until 150).map(i => (s"k-${i % 60}", i * 2)) :+
        ((null.asInstanceOf[String], -3))).toDF("rk", "rv")
    Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("lk", 6)))
    Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rk", 6)))
    Snapshots.deleteWhere(spark, rhs, col("rv") % 5 === 0)
    val lv = Snapshots.readVersion(spark, lhs)
    val rv = Snapshots.readVersion(spark, rhs)
    for (jt <- Seq("inner", "left_outer", "left_semi", "left_anti")) {
      val merge = Snapshots.bucketAlignedJoin(
        spark, lhs, rhs, "lk", "rk", joinType = jt, strategy = "merge")
      assert(Snapshots.alignedShuffleFree(merge),
        s"$jt merge must stay shuffle-free (outer and inner plans)")
      val hash = Snapshots.bucketAlignedJoin(
        spark, lhs, rhs, "lk", "rk", joinType = jt, strategy = "hash")
      assert(merge.count() === hash.count(), s"$jt strategy counts")
      assert(merge.exceptAll(hash).isEmpty && hash.exceptAll(merge).isEmpty,
        s"$jt merge rows must equal hash rows")
      val expect = lv.join(rv, col("lk") === col("rk"), jt)
      assert(merge.exceptAll(expect).isEmpty &&
        expect.exceptAll(merge).isEmpty, s"$jt merge vs Spark")
    }
    // auto decision is a pure function of the build side's ledger:
    // tiny buckets stay hash at the default budget and flip to merge
    // when the budget shrinks below a bucket
    val rm = Snapshots.readManifest(spark, rhs, 0L)
    assert(Snapshots.spjStrategy(spark, rm) === "hash")
    spark.conf.set("graft.spj.buildBytesMax", "1")
    try {
      assert(Snapshots.spjStrategy(spark, rm) === "merge")
      // end-to-end: the default auto strategy now runs merge
      val auto = Snapshots.bucketAlignedJoin(
        spark, lhs, rhs, "lk", "rk", joinType = "left_outer")
      assert(Snapshots.alignedShuffleFree(auto))
      val expect = lv.join(rv, col("lk") === col("rk"), "left_outer")
      assert(auto.exceptAll(expect).isEmpty &&
        expect.exceptAll(auto).isEmpty)
    } finally spark.conf.unset("graft.spj.buildBytesMax")
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoin(
        spark, lhs, rhs, "lk", "rk", strategy = "broadcast")
    }
  }

  test("bucketAlignedAggregate: zero Exchange, groups equal Spark's own " +
    "groupBy across count/sum/min/max over long/decimal/string with " +
    "NULL keys and values, dv masks apply, refusals (r15)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val base = (0 until 500)
      .map(i => (i.toLong, i.toLong, i.toDouble, s"s-${i % 97}"))
      .toDF("k0", "v0", "dd", "s0")
    val df = base.select(
      when(col("k0") % 50 === 0, lit(null)).otherwise(col("k0") % 23)
        .as("k"),
      when(col("v0") % 7 === 0, lit(null)).otherwise(col("v0")).as("v"),
      col("dd").cast("decimal(18,2)").as("d"),
      when(col("k0") % 11 === 0, lit(null)).otherwise(col("s0")).as("s"),
      col("dd").as("f"))
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("k", 5)))
    // dv masks must be invisible to the aggregation
    Snapshots.deleteWhere(spark, dir, col("d") > 480)
    val agg = Snapshots.bucketAlignedAggregate(spark, dir, Seq(
      ("count", "*", "n"), ("count", "v", "n_v"), ("sum", "v", "sum_v"),
      ("sum", "d", "sum_d"), ("min", "s", "min_s"), ("max", "s", "max_s"),
      ("min", "v", "min_v")))
    assert(Snapshots.alignedShuffleFree(agg),
      "the aligned aggregation must carry zero shuffle — outer AND inner plans")
    assert(agg.rdd.getNumPartitions === 5, "one partition per bucket")
    val expect = Snapshots.readVersion(spark, dir).groupBy("k").agg(
      count(lit(1)).as("n"), count(col("v")).as("n_v"),
      sum("v").as("sum_v"), sum("d").as("sum_d"),
      min("s").as("min_s"), max("s").as("max_s"), min("v").as("min_v"))
    assert(agg.schema.map(f => (f.name, f.dataType)) ===
      expect.schema.map(f => (f.name, f.dataType)),
      "output types must be Spark's own aggregate result types")
    assert(agg.count() === expect.count())
    assert(agg.exceptAll(expect).isEmpty && expect.exceptAll(agg).isEmpty,
      "aligned aggregation must equal the planner's groupBy exactly")
    // the NULL keys form ONE group (they co-locate by the NULL hash)
    assert(agg.where(col("k").isNull).count() === 1L)
    // refusals: unbucketed, unclustered tail, unknown fn/column,
    // duplicate aliases, float min
    val plain = freshDir()
    Snapshots.commit(df, plain, "overwrite")
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, plain,
        Seq(("count", "*", "n")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("median", "v", "m")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("sum", "nope", "x")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n"), ("sum", "v", "n")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("min", "f", "m")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("sum", "s", "x")))
    }
    Snapshots.commit(Seq((99L, Option(1L), BigDecimal(1), "t", 1.0))
      .toDF("k", "v", "d", "s", "f")
      .select(col("k"), col("v"), col("d").cast("decimal(18,2)").as("d"),
        col("s"), col("f")),
      dir, "append")
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n")))
    }
  }

  test("composite-key bucketAlignedAggregate (r18): GROUP BY (key, " +
    "other) folds zero-Exchange with Spark's exact groups incl. NULLs " +
    "in both columns; composite-sorted layouts skip the sort; refusals") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    val df = (0 until 600).map { i =>
      (if (i % 50 == 0) null else java.lang.Long.valueOf(i.toLong % 13),
        if (i % 17 == 0) null else s"d-${i % 7}",
        if (i % 5 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(i.toLong),
        BigDecimal(i).setScale(2), i.toDouble)
    }.toDF("k", "g", "v", "d", "f")
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("k", 4)))
    val agg = Snapshots.bucketAlignedAggregate(spark, dir,
      Seq(("count", "*", "n"), ("sum", "v", "sv"), ("max", "d", "xd")),
      groupAlso = Seq("g"))
    assert(Snapshots.alignedShuffleFree(agg),
      "the composite fold must carry zero shuffle")
    val expect = Snapshots.readVersion(spark, dir).groupBy("k", "g").agg(
      count(lit(1)).as("n"), sum("v").as("sv"), max("d").as("xd"))
    assert(agg.schema.map(x => (x.name, x.dataType)) ===
      expect.schema.map(x => (x.name, x.dataType)))
    assert(agg.exceptAll(expect).isEmpty && expect.exceptAll(agg).isEmpty,
      "composite aligned aggregation must equal the planner's groupBy")
    // NULLs group per SQL: NULL k × NULL g is ONE group
    assert(agg.where(col("k").isNull && col("g").isNull).count() === 1L)
    assert(agg.where(col("k").isNull).count() ===
      expect.where(col("k").isNull).count())
    // a COMPOSITE-SORTED layout (sortAlso = g) streams sort-free
    val sortedDir = freshDir()
    Snapshots.commit(df, sortedDir, "overwrite",
      bucketBy = Some(("k", 4)), sortBuckets = true, sortAlso = Seq("g"))
    val agg2 = Snapshots.bucketAlignedAggregate(spark, sortedDir,
      Seq(("count", "*", "n"), ("sum", "v", "sv")), groupAlso = Seq("g"))
    assert(Snapshots.alignedShuffleFree(agg2) &&
      Snapshots.alignedSortFree(agg2),
      "a composite-sorted layout must serve the tuple fold sort-free")
    val expect2 = Snapshots.readVersion(spark, sortedDir).groupBy("k", "g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    assert(agg2.exceptAll(expect2).isEmpty && expect2.exceptAll(agg2).isEmpty)
    // refusals: unknown / duplicate / key-overlapping / float group
    // columns, alias colliding with a grouping column
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n")), groupAlso = Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n")), groupAlso = Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n")), groupAlso = Seq("g", "g"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n")), groupAlso = Seq("f"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "g")), groupAlso = Seq("g"))
    }
  }

  test("clusterTail: O(tail) incremental re-cluster — the clustered bulk " +
    "rides by reference, appends gain bucket mappings, masks hold, the " +
    "aligned join/agg accept the table after; idempotent; partitioned " +
    "tables refused (r15)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    Snapshots.commit(frame(1000), dir, "overwrite", bucketBy = Some(("id", 8)))
    val v0Files = Snapshots.readManifest(spark, dir, 0L).files.toSet
    // two PLAIN appends build an unclustered tail
    Snapshots.commit((1000 until 1100).map(i => (i.toLong, s"row-$i"))
      .toDF("id", "tag"), dir, "append")
    Snapshots.commit((1100 until 1200).map(i => (i.toLong, s"row-$i"))
      .toDF("id", "tag"), dir, "append")
    // masks in BOTH the clustered bulk and the tail must hold across
    // the rewrite (tail masks apply+drop, bulk masks consolidate)
    val preV = Snapshots.deleteWhere(spark, dir, col("id") % 100 === 7)
    val before = Snapshots.readVersion(spark, dir, Some(preV))
      .collect().toSeq
    val v = Snapshots.clusterTail(spark, dir)
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.files.forall(m.buckets.contains),
      "every file must carry a bucket mapping after clusterTail")
    assert(v0Files.subsetOf(m.files.toSet),
      "the clustered bulk must ride by reference, not rewrite")
    val after = Snapshots.readVersion(spark, dir, Some(v))
    assert(after.count().toInt === before.size)
    assert(after.collect().toSeq.sortBy(_.getLong(0)) ===
      before.sortBy(_.getLong(0)), "rows must be identical")
    assert(after.where(col("id") % 100 === 7).count() === 0L,
      "masked rows must not resurrect")
    // the repaired layout satisfies every bucket consumer: aligned
    // join and aggregation accept it and agree with the planner
    val rhs = freshDir()
    Snapshots.commit((0 until 1200 by 3).map(i => (i.toLong, i * 2))
      .toDF("rid", "rv"), rhs, "overwrite", bucketBy = Some(("rid", 8)))
    val joined = Snapshots.bucketAlignedJoin(spark, dir, rhs, "id", "rid")
    val expect = Snapshots.readVersion(spark, dir)
      .join(Snapshots.readVersion(spark, rhs), col("id") === col("rid"))
    assert(joined.count() === expect.count())
    assert(joined.exceptAll(expect).isEmpty &&
      expect.exceptAll(joined).isEmpty)
    val agg = Snapshots.bucketAlignedAggregate(spark, dir,
      Seq(("count", "*", "n")))
    val expAgg = Snapshots.readVersion(spark, dir).groupBy("id")
      .agg(count(lit(1)).as("n"))
    assert(agg.exceptAll(expAgg).isEmpty && expAgg.exceptAll(agg).isEmpty)
    // idempotent: a fully clustered table is a version-preserving no-op
    assert(Snapshots.clusterTail(spark, dir) === v)
    // refusals: unbucketed, partitioned×bucketed
    val plain = freshDir()
    Snapshots.commit(frame(10), plain, "overwrite")
    intercept[IllegalArgumentException] {
      Snapshots.clusterTail(spark, plain)
    }
    val pb = freshDir()
    Snapshots.commit(frame(100).withColumn("p", col("id") % 2), pb,
      "overwrite", bucketBy = Some(("id", 4)), partitionBy = Seq("p"))
    Snapshots.commit(Seq((5000L, "t", 0L)).toDF("id", "tag", "p"), pb,
      "append")
    intercept[IllegalArgumentException] {
      Snapshots.clusterTail(spark, pb)
    }
  }

  test("joinFilePruned: dim keys prune the fact scan (checkpoint and " +
    "manifest paths), over-budget degrades to the full read with " +
    "identical rows, empty dim is empty (r15)") {
    val s = spark
    import s.implicits._
    val factDir = freshDir()
    val fact = (0 until 2000).map(i => (i.toLong, (i % 100).toLong, i * 1.5))
      .toDF("oid", "ck", "amt")
    Snapshots.commit(fact, factDir, "overwrite", bucketBy = Some(("ck", 16)))
    val factName = new org.apache.hadoop.fs.Path(factDir).getName
    val total = Snapshots.readManifest(spark, factDir, 0L).files.size
    val dim = Seq((3L, "a"), (7L, "b"), (3L, "dup")).toDF("dk", "tag")
    def runAndCheck(): Unit = {
      val joined = Snapshots.joinFilePruned(
        spark, factDir, "ck", dim, "dk")
      val expect = Snapshots.readVersion(spark, factDir)
        .join(dim, col("ck") === col("dk"))
      assert(joined.count() === expect.count())
      assert(joined.exceptAll(expect).isEmpty &&
        expect.exceptAll(joined).isEmpty)
      assert(joined.inputFiles.count(_.contains(factName)) < total,
        "the dim's keys must prune the fact scan")
    }
    runAndCheck() // manifest path (no checkpoint yet)
    Snapshots.writeMetadataCheckpoint(spark, factDir)
    runAndCheck() // checkpoint path — same decisions, same rows
    // over budget: full scan, identical rows
    spark.conf.set("graft.probe.maxKeys", "1")
    try {
      val full = Snapshots.joinFilePruned(spark, factDir, "ck", dim, "dk")
      assert(full.inputFiles.count(_.contains(factName)) === total,
        "over-budget must degrade to the full snapshot read")
      val expect = Snapshots.readVersion(spark, factDir)
        .join(dim, col("ck") === col("dk"))
      assert(full.exceptAll(expect).isEmpty &&
        expect.exceptAll(full).isEmpty)
    } finally spark.conf.unset("graft.probe.maxKeys")
    // NULL dim keys never match and never reach the planner; an
    // empty/all-NULL dim serves the schema'd empty frame
    val nullDim = Seq((Option.empty[Long], "x"), (Some(3L), "y"))
      .toDF("dk", "tag")
    val withNull = Snapshots.joinFilePruned(
      spark, factDir, "ck", nullDim, "dk")
    assert(withNull.where(col("ck").isNull).count() === 0L)
    assert(withNull.count() === 20L * 1) // ck=3 has 20 fact rows × 1 row
    val emptyDim = Seq(Option.empty[Long]).toDF("dk")
      .withColumn("tag", lit("z"))
    val empty = Snapshots.joinFilePruned(
      spark, factDir, "ck", emptyDim, "dk")
    assert(empty.count() === 0L)
    assert(empty.columns.contains("ck") && empty.columns.contains("dk"))
  }

  test("composition: a table built by the bucketed STREAMING sink " +
    "(multi-file buckets, one per micro-batch) joins and aggregates " +
    "aligned — no re-cluster needed (r15)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"b-$i")).toDF("id", "tag")
    Snapshots.exactlyOnceSink(dir, "app", bucketBy = Some(("id", 4)))(
      batch(0, 300), 0L)
    Snapshots.exactlyOnceSink(dir, "app", bucketBy = Some(("id", 4)))(
      batch(300, 600), 1L)
    Snapshots.exactlyOnceSink(dir, "app", bucketBy = Some(("id", 4)))(
      batch(600, 900), 2L)
    val m = Snapshots.readManifest(spark, dir, 2L)
    assert(m.files.toSet === m.buckets.keySet)
    assert(m.files.size > 4, "multiple files per bucket across batches")
    val rhs = freshDir()
    Snapshots.commit((0 until 900 by 3).map(i => (i.toLong, i))
      .toDF("rid", "rv"), rhs, "overwrite", bucketBy = Some(("rid", 4)))
    val joined = Snapshots.bucketAlignedJoin(spark, dir, rhs, "id", "rid")
    assert(Snapshots.alignedShuffleFree(joined))
    assert(joined.count() === 300L)
    val agg = Snapshots.bucketAlignedAggregate(spark, dir,
      Seq(("count", "*", "n")))
    assert(Snapshots.alignedShuffleFree(agg))
    assert(agg.count() === 900L)
    assert(agg.agg(sum("n")).head.getLong(0) === 900L)
  }

  test("composition: partition×bucket layouts join and aggregate aligned " +
    "(bucket groups span the partition dirs) — rows equal the planner's " +
    "(r15)") {
    val s = spark
    import s.implicits._
    val lhs = freshDir()
    val rhs = freshDir()
    val left = (0 until 600)
      .map(i => (i.toLong, (i % 3).toString, i * 1.0))
      .toDF("id", "p", "v")
    Snapshots.commit(left, lhs, "overwrite",
      bucketBy = Some(("id", 4)), partitionBy = Seq("p"))
    Snapshots.commit((0 until 600 by 2).map(i => (i.toLong, i))
      .toDF("rid", "rv"), rhs, "overwrite", bucketBy = Some(("rid", 4)))
    val m = Snapshots.readManifest(spark, lhs, 0L)
    assert(m.partitionCols === Seq("p") && m.files.toSet === m.buckets.keySet)
    val joined = Snapshots.bucketAlignedJoin(spark, lhs, rhs, "id", "rid")
    assert(Snapshots.alignedShuffleFree(joined))
    val expect = Snapshots.readVersion(spark, lhs)
      .join(Snapshots.readVersion(spark, rhs), col("id") === col("rid"))
    assert(joined.count() === expect.count())
    assert(joined.exceptAll(expect).isEmpty &&
      expect.exceptAll(joined).isEmpty)
    val agg = Snapshots.bucketAlignedAggregate(spark, lhs,
      Seq(("count", "*", "n"), ("min", "p", "min_p")))
    assert(Snapshots.alignedShuffleFree(agg))
    val expAgg = Snapshots.readVersion(spark, lhs).groupBy("id")
      .agg(count(lit(1)).as("n"), min("p").as("min_p"))
    assert(agg.exceptAll(expAgg).isEmpty && expAgg.exceptAll(agg).isEmpty)
  }

  test("composition: the ORDER-SENSITIVE operators (as-of, running) run " +
    "over partition×bucket layouts — bucket streams span the partition " +
    "dirs, rows equal the planner's (r15)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lhs = freshDir()
    val rhs = freshDir()
    // keys recur ACROSS partition dirs: the per-bucket ordered stream
    // must interleave files from different dirs correctly (the
    // in-task sorter path — dir-spanning buckets are multi-file)
    val left = (0 until 400).reverse
      .map(i => (i.toLong, (i % 17).toString, (i % 3).toString,
        (i * 5 % 97).toLong))
      .toDF("lid", "k", "p", "lt")
    Snapshots.commit(left, lhs, "overwrite",
      bucketBy = Some(("k", 4)), partitionBy = Seq("p"))
    Snapshots.commit((0 until 200).reverse
        .map(i => (s"${i % 19}", (i / 19 * 19 + i % 19).toLong, i.toLong))
        .toDF("rk", "rt", "rv").coalesce(1),
      rhs, "overwrite", bucketBy = Some(("rk", 4)), sortBuckets = true,
      sortAlso = Seq("rt"))
    val got = Snapshots.bucketAlignedAsof(spark, lhs, rhs,
      "k", "rk", "lt", "rt")
    assert(Snapshots.alignedShuffleFree(got))
    val l = Snapshots.readVersion(spark, lhs)
    val r = Snapshots.readVersion(spark, rhs)
    val cand = l.join(r, col("k") === col("rk") && col("rt") <= col("lt"),
      "left")
    val w = Window.partitionBy("lid").orderBy(col("rt").desc_nulls_last)
    val expect = cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "rk")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "as-of parity over the composed layout")
    val run = Snapshots.bucketAlignedRunning(spark, lhs, "lt",
      Seq(("count", "*", "rn"), ("max", "lid", "rmax")))
    assert(Snapshots.alignedShuffleFree(run))
    val wr = Window.partitionBy("k").orderBy(asc_nulls_first("lt"))
    val expRun = l.withColumn("rn", count(lit(1)).over(wr))
      .withColumn("rmax", max("lid").over(wr))
    assert(run.exceptAll(expRun).isEmpty && expRun.exceptAll(run).isEmpty,
      "running parity over the composed layout")
  }

  test("joinFilePruned factRanges: a static window conjunct composes " +
    "with the dim keys on BOTH planner paths — strictly tighter scan, " +
    "rows exact, over-budget still window-exact (r15)") {
    val s = spark
    import s.implicits._
    val factDir = freshDir()
    val fact = (0 until 2000)
      .map(i => (i.toLong, (i % 50).toLong, (i % 4).toLong, i * 1.0))
      .toDF("oid", "ck", "day", "amt")
    Snapshots.commit(fact, factDir, "overwrite",
      bucketBy = Some(("ck", 8)), partitionBy = Seq("day"),
      statsColumns = Seq("day"))
    val factName = new org.apache.hadoop.fs.Path(factDir).getName
    val dim = Seq((3L, "a"), (7L, "b")).toDF("dk", "tag")
    val window = Seq(("day", 1L: Any, 2L: Any))
    def check(): Unit = {
      val keysOnly = Snapshots.joinFilePruned(
        spark, factDir, "ck", dim, "dk")
      val windowed = Snapshots.joinFilePruned(
        spark, factDir, "ck", dim, "dk", factRanges = window)
      val expect = Snapshots.readVersion(spark, factDir)
        .filter(col("day").between(1L, 2L))
        .join(dim, col("ck") === col("dk"))
      assert(windowed.count() === expect.count())
      assert(windowed.exceptAll(expect).isEmpty &&
        expect.exceptAll(windowed).isEmpty)
      val a = windowed.inputFiles.count(_.contains(factName))
      val b = keysOnly.inputFiles.count(_.contains(factName))
      assert(a < b, s"the window must tighten the scan ($a vs $b)")
    }
    check() // manifest path
    Snapshots.writeMetadataCheckpoint(spark, factDir)
    check() // checkpoint path (the u50 mixed-probe machinery)
    // over budget: full snapshot read, rows still window-exact
    spark.conf.set("graft.probe.maxKeys", "1")
    try {
      val full = Snapshots.joinFilePruned(
        spark, factDir, "ck", dim, "dk", factRanges = window)
      val expect = Snapshots.readVersion(spark, factDir)
        .filter(col("day").between(1L, 2L))
        .join(dim, col("ck") === col("dk"))
      assert(full.exceptAll(expect).isEmpty &&
        expect.exceptAll(full).isEmpty)
    } finally spark.conf.unset("graft.probe.maxKeys")
  }

  test("alignedShuffleFree is a REAL witness: a dv-mask join forced past " +
    "the broadcast threshold shuffles INSIDE a per-bucket plan and the " +
    "witness reports it, while rows stay exact (r15)") {
    val s = spark
    import s.implicits._
    val lhs = freshDir()
    val rhs = freshDir()
    val left = (0 until 400).map(i => (i.toLong, s"l-$i")).toDF("id", "ltag")
    val right = (0 until 400 by 2).map(i => (i.toLong, i)).toDF("rid", "rv")
    Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("id", 4)))
    Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rid", 4)))
    Snapshots.deleteWhere(spark, rhs, col("rv") % 10 === 0)
    // with broadcast available the mask join broadcasts: shuffle-free
    val ok = Snapshots.bucketAlignedJoin(spark, lhs, rhs, "id", "rid")
    assert(Snapshots.alignedShuffleFree(ok))
    // force the mask join past broadcast: the inner per-bucket plan
    // now carries a genuine shuffle — invisible to the outer frame's
    // plan (an ExistingRDD scan), VISIBLE to the witness
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val forced = Snapshots.bucketAlignedJoin(spark, lhs, rhs, "id", "rid")
      assert(!forced.queryExecution.executedPlan.toString
        .contains("Exchange"), "the OUTER plan alone cannot see it")
      assert(!Snapshots.alignedShuffleFree(forced),
        "the witness must report the inner shuffle")
      // diagnostic, not semantic: the rows are still exact
      val expect = Snapshots.readVersion(spark, lhs)
        .join(Snapshots.readVersion(spark, rhs), col("id") === col("rid"))
      assert(forced.exceptAll(expect).isEmpty &&
        expect.exceptAll(forced).isEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** Recursive dir copy — a DIFFERENT qualified path misses the
    * process-wide segment cache, so the copy's manifest read is a
    * genuine cold parse of the serialized segment bytes.
    */
  private def copyTable(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("sorted-bucket layout: markers recorded per file, files physically " +
    "key-sorted, append/compact/rename carry semantics, cold re-parse (r15)") {
    val dir = freshDir()
    val s = spark
    import s.implicits._
    // adversarial input order: DESCENDING ids — only the write-side
    // sort can produce sorted files
    val df = (0 until 600).reverse.map(i => (i.toLong, s"t-$i"))
      .toDF("id", "tag").coalesce(1)
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("id", 6)),
      sortBuckets = true)
    val m0 = Snapshots.readManifest(spark, dir, 0L)
    assert(m0.sortedFiles === m0.files.map(_ -> "id").toMap,
      "every written file carries a sorted-by-key marker")
    // the PHYSICAL contract behind the marker: each file's rows are
    // ascending by key (read individually, no sort in this plan)
    m0.files.foreach { rel =>
      val ids = spark.read.parquet(s"$dir/$rel")
        .select("id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"$rel must be key-sorted")
    }
    // a PLAIN append's files join unmarked (the layout degrades per
    // file, never lies); a SORTED bucketed append's files join marked
    Snapshots.commit(Seq((9001L, "late")).toDF("id", "tag"), dir, "append")
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.sortedFiles === m0.sortedFiles, "plain tail is unmarked")
    Snapshots.commit((700 until 760).reverse.map(i => (i.toLong, s"a-$i"))
        .toDF("id", "tag").coalesce(1),
      dir, "append", bucketBy = Some(("id", 6)), sortBuckets = true)
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(m2.sortedFiles.size > m1.sortedFiles.size,
      "sorted append files gain markers")
    // an UNSORTED full rewrite clears every marker; a sorted one
    // restores the whole layout
    Snapshots.compactBucketed(spark, dir, "id", 6)
    assert(Snapshots.readManifest(spark, dir, 3L).sortedFiles.isEmpty)
    Snapshots.compactBucketed(spark, dir, "id", 6, sort = true)
    val m4 = Snapshots.readManifest(spark, dir, 4L)
    assert(m4.sortedFiles.keySet === m4.files.toSet)
    // markers follow a bucket-key RENAME (logical names everywhere)
    Snapshots.renameColumn(spark, dir, "id", "key_id")
    val m5 = Snapshots.readManifest(spark, dir, 5L)
    assert(m5.sortedFiles.values.toSet === Set("key_id"))
    // cold parse: a path-copied table misses the segment cache, so
    // this read exercises the serialized `sorted=` lines for real
    val copy = freshDir()
    copyTable(dir, copy)
    val mc = Snapshots.readManifest(spark, copy, 5L)
    assert(mc.sortedFiles === m5.sortedFiles)
    // misuse: sorting without a bucket layout is refused
    intercept[IllegalArgumentException] {
      Snapshots.commit(df, freshDir(), "overwrite", sortBuckets = true)
    }
  }

  test("skip-sort reads: aligned agg and merge join stream sorted buckets " +
    "with ZERO Sort nodes; multi-file buckets tree-merge; parity with the " +
    "sorter path; dv and oversized files fall back conservatively (r15)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // duplicates per key, NULL keys, NULL values, descending arrival
    val df = ((0 until 500).reverse.map(i =>
        (if (i % 50 == 0) null else s"k-${i % 37}", i.toLong)) :+
        ((null.asInstanceOf[String], -5L)))
      .toDF("k", "v").coalesce(1)
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("k", 5)),
      sortBuckets = true)
    val agg0 = Snapshots.bucketAlignedAggregate(spark, dir, Seq(
      ("count", "*", "n"), ("sum", "v", "sv"), ("max", "v", "mx")))
    assert(Snapshots.alignedShuffleFree(agg0) &&
      Snapshots.alignedSortFree(agg0),
      "a fully sorted layout must aggregate with zero Exchange AND zero Sort")
    val expect0 = Snapshots.readVersion(spark, dir).groupBy("k").agg(
      count(lit(1)).as("n"), sum("v").as("sv"), max("v").as("mx"))
    assert(agg0.exceptAll(expect0).isEmpty &&
      expect0.exceptAll(agg0).isEmpty)
    // a SORTED append makes every bucket a 2-file bucket: the
    // tree-merge path streams both runs, still zero Sort
    Snapshots.commit((500 until 700).reverse.map(i =>
          (s"k-${i % 37}", i.toLong)).toDF("k", "v").coalesce(1),
      dir, "append", bucketBy = Some(("k", 5)), sortBuckets = true)
    val agg1 = Snapshots.bucketAlignedAggregate(spark, dir, Seq(
      ("count", "*", "n"), ("sum", "v", "sv")))
    assert(Snapshots.alignedShuffleFree(agg1) &&
      Snapshots.alignedSortFree(agg1),
      "multi-file sorted buckets must tree-merge, not re-sort")
    val expect1 = Snapshots.readVersion(spark, dir).groupBy("k").agg(
      count(lit(1)).as("n"), sum("v").as("sv"))
    assert(agg1.exceptAll(expect1).isEmpty &&
      expect1.exceptAll(agg1).isEmpty)
    // the UNSORTED twin runs the same rows through the sorter path:
    // witness reports the Sort, rows identical
    val plain = freshDir()
    Snapshots.commit(Snapshots.readVersion(spark, dir), plain,
      "overwrite", bucketBy = Some(("k", 5)))
    val aggP = Snapshots.bucketAlignedAggregate(spark, plain, Seq(
      ("count", "*", "n"), ("sum", "v", "sv")))
    assert(Snapshots.alignedShuffleFree(aggP) &&
      !Snapshots.alignedSortFree(aggP),
      "an unsorted layout pays the in-task sort and the witness says so")
    assert(aggP.exceptAll(agg1).isEmpty && agg1.exceptAll(aggP).isEmpty)
    // merge JOIN over two sorted tables: zero Sort, rows equal
    // Spark's own joins (inner + left_outer, duplicates both sides)
    val rhs = freshDir()
    Snapshots.commit((0 until 300).reverse.map(i =>
          (s"k-${i % 41}", i * 2)).toDF("rk", "rv").coalesce(1),
      rhs, "overwrite", bucketBy = Some(("rk", 5)), sortBuckets = true)
    for (jt <- Seq("inner", "left_outer")) {
      val j = Snapshots.bucketAlignedJoin(spark, dir, rhs, "k", "rk",
        joinType = jt, strategy = "merge")
      assert(Snapshots.alignedShuffleFree(j) && Snapshots.alignedSortFree(j),
        s"$jt over two sorted layouts must be exchange- and sort-free")
      val expect = Snapshots.readVersion(spark, dir)
        .join(Snapshots.readVersion(spark, rhs), col("k") === col("rk"), jt)
      assert(j.exceptAll(expect).isEmpty && expect.exceptAll(j).isEmpty,
        s"$jt parity")
    }
    // fallback 1: a live dv mask may reorder a scan — the sorter path
    // takes over, rows stay exact
    Snapshots.deleteWhere(spark, rhs, col("rv") % 7 === 0)
    val jDv = Snapshots.bucketAlignedJoin(spark, dir, rhs, "k", "rk",
      strategy = "merge")
    assert(!Snapshots.alignedSortFree(jDv),
      "a masked table must fall back to the in-task sort")
    val expectDv = Snapshots.readVersion(spark, dir)
      .join(Snapshots.readVersion(spark, rhs), col("k") === col("rk"))
    assert(jDv.exceptAll(expectDv).isEmpty &&
      expectDv.exceptAll(jDv).isEmpty)
    // fallback 2: a file bigger than one scan split loses the order
    // guarantee — conservative sorter, identical rows
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val aggBig = Snapshots.bucketAlignedAggregate(spark, dir, Seq(
        ("count", "*", "n"), ("sum", "v", "sv")))
      assert(!Snapshots.alignedSortFree(aggBig))
      assert(aggBig.exceptAll(expect1).isEmpty &&
        expect1.exceptAll(aggBig).isEmpty)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("bucketAlignedJoinAggregate: the fused star query equals Spark's " +
    "own join+groupBy — duplicates both sides (cross-product sums), NULL " +
    "keys dropped, exact decimal sums, ambiguous columns refused, zero " +
    "Exchange always and zero Sort on sorted layouts (r15)") {
    val s = spark
    import s.implicits._
    val lhs = freshDir()
    val rhs = freshDir()
    // duplicates on BOTH sides → multi-row groups whose joined
    // cross-product the fold must sum exactly; NULL keys both sides
    val left = ((0 until 400).reverse.map(i =>
        (Option(i.toLong % 37), BigDecimal(i) / 100)) :+
        ((None: Option[Long]) -> BigDecimal(9)))
      .toDF("lk", "lv")
      .select(col("lk"), col("lv").cast("decimal(18,2)").as("lv"))
    val right = ((0 until 120).map(i => (Option(i.toLong % 41), i * 3)) :+
        ((None: Option[Long]) -> -1))
      .toDF("rk", "rv")
    Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("lk", 5)),
      sortBuckets = true)
    Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rk", 5)),
      sortBuckets = true)
    val fused = Snapshots.bucketAlignedJoinAggregate(spark, lhs, rhs,
      "lk", "rk", Seq(("count", "*", "n"), ("sum", "lv", "sum_lv"),
        ("sum", "rv", "sum_rv"), ("max", "rv", "max_rv")))
    assert(Snapshots.alignedShuffleFree(fused) &&
      Snapshots.alignedSortFree(fused),
      "fused join+agg over sorted layouts: zero Exchange, zero Sort")
    val expect = Snapshots.readVersion(spark, lhs)
      .join(Snapshots.readVersion(spark, rhs), col("lk") === col("rk"))
      .groupBy("lk").agg(count(lit(1)).as("n"), sum("lv").as("sum_lv"),
        sum("rv").as("sum_rv"), max("rv").as("max_rv"))
    assert(fused.schema.map(f => (f.name, f.dataType)) ===
      expect.schema.map(f => (f.name, f.dataType)),
      "fused output types must be Spark's own aggregate result types")
    assert(fused.exceptAll(expect).isEmpty && expect.exceptAll(fused).isEmpty,
      "fused rows must equal the planner's join+groupBy")
    // UNSORTED twin: same rows through the in-task sorter
    val lhsP = freshDir()
    Snapshots.commit(left, lhsP, "overwrite", bucketBy = Some(("lk", 5)))
    val fusedP = Snapshots.bucketAlignedJoinAggregate(spark, lhsP, rhs,
      "lk", "rk", Seq(("count", "*", "n"), ("sum", "rv", "sum_rv")))
    assert(Snapshots.alignedShuffleFree(fusedP) &&
      !Snapshots.alignedSortFree(fusedP))
    val expectP = expect.select("lk", "n", "sum_rv")
    assert(fusedP.exceptAll(expectP).isEmpty &&
      expectP.exceptAll(fusedP).isEmpty)
    // ambiguity refusals: a column on BOTH sides, and a same-named key
    val rhs2 = freshDir()
    Snapshots.commit(right.withColumnRenamed("rv", "lv"), rhs2,
      "overwrite", bucketBy = Some(("rk", 5)))
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoinAggregate(spark, lhs, rhs2, "lk", "rk",
        Seq(("sum", "lv", "x")))
    }
    val rhs3 = freshDir()
    Snapshots.commit(right.withColumnRenamed("rk", "lk"), rhs3,
      "overwrite", bucketBy = Some(("lk", 5)))
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedJoinAggregate(spark, lhs, rhs3, "lk", "lk",
        Seq(("count", "*", "n")))
    }
  }

  test("bucketAlignedLatest: rows equal the planner's row_number window, " +
    "NULL orders never win, all-NULL entities absent, NULL keys dropped, " +
    "zero Exchange, zero Sort on sorted layouts, refusals (r15)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // unique ord per key (deterministic winner); every 7th ord NULL;
    // key 1000 has ONLY NULL orders (absent from the output); some
    // NULL keys (dropped)
    val rows = (0 until 600).map { i =>
      val key = if (i % 97 == 0) None else Some((i % 29).toLong)
      val ord = if (i % 7 == 0) None else Some(i.toLong)
      (key, ord, s"p-$i")
    } :+ ((Some(1000L), None: Option[Long], "ghost"))
    val df = rows.toDF("k", "ord", "payload").coalesce(1)
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("k", 6)),
      sortBuckets = true)
    val latest = Snapshots.bucketAlignedLatest(spark, dir, "ord")
    assert(Snapshots.alignedShuffleFree(latest) &&
      Snapshots.alignedSortFree(latest),
      "latest-by-key over a sorted layout: zero Exchange, zero Sort")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("ord").desc_nulls_last)
    val expect = Snapshots.readVersion(spark, dir)
      .filter(col("k").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("ord").isNotNull)
      .drop("rn")
    assert(latest.exceptAll(expect).isEmpty &&
      expect.exceptAll(latest).isEmpty,
      "latest rows must equal the planner's window")
    assert(latest.filter(col("k") === 1000L).count() === 0L,
      "an entity with only NULL orders is absent")
    assert(latest.filter(col("k").isNull).count() === 0L)
    // unsorted twin: sorter path, same rows
    val plain = freshDir()
    Snapshots.commit(df, plain, "overwrite", bucketBy = Some(("k", 6)))
    val latestP = Snapshots.bucketAlignedLatest(spark, plain, "ord")
    assert(!Snapshots.alignedSortFree(latestP))
    assert(latestP.exceptAll(expect).isEmpty &&
      expect.exceptAll(latestP).isEmpty)
    // refusals: unbucketed, unknown/double order column
    val flat = freshDir()
    Snapshots.commit(df, flat, "overwrite")
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedLatest(spark, flat, "ord")
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedLatest(spark, dir, "nope")
    }
    val dbl = freshDir()
    Snapshots.commit(df.withColumn("d", col("ord").cast("double")), dbl,
      "overwrite", bucketBy = Some(("k", 3)))
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedLatest(spark, dbl, "d")
    }
  }

  test("monotonic guard: a FORGED sorted marker over unsorted files fails " +
    "loudly at read time — never silently wrong rows (r15)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // descending arrival, NO write-side sort: the files are unsorted
    Snapshots.commit((0 until 400).reverse.map(i => (i.toLong, i))
        .toDF("id", "v").coalesce(1),
      dir, "overwrite", bucketBy = Some(("id", 4)))
    // forge: copy the table and stamp `sorted=id` onto every segment
    // entry — metadata now LIES about the physical order
    val forged = freshDir()
    copyTable(dir, forged)
    val segDir = java.nio.file.Paths.get(s"$forged/_manifests/segments")
    java.nio.file.Files.list(segDir).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".crc"))
        // the local FS's checksum sidecars: binary, and stale once
        // the segment is edited — drop them (the forge IS the point)
        java.nio.file.Files.delete(p)
      else {
        val lines = java.nio.file.Files.readAllLines(p)
        val out = new java.util.ArrayList[String]()
        lines.forEach { l =>
          out.add(l)
          if (l.startsWith("bucket=")) out.add("sorted=id")
        }
        java.nio.file.Files.write(p, out)
      }
    }
    val agg = Snapshots.bucketAlignedAggregate(spark, forged, Seq(
      ("count", "*", "n")))
    val e = intercept[org.apache.spark.SparkException] { agg.count() }
    def causeChain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causeChain(t.getCause)
    assert(causeChain(e).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("sorted-bucket layout violated")),
      s"expected the monotonic guard to fire, got: $e")
  }

  test("randomized order-sensitive parity: as-of (both directions, with " +
    "and without tolerance) and running windows equal the planner's " +
    "answers over random data, NULL densities and sortedness (r15)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260816L)
    (0 until 3).foreach { trial =>
      val n = 3 + rnd.nextInt(4)
      val keySpace = 3 + rnd.nextInt(20)
      val tSpace = 5 + rnd.nextInt(60)
      val nullKeyPct = rnd.nextInt(20)
      val nullTimePct = rnd.nextInt(25)
      def key(): String =
        if (rnd.nextInt(100) < nullKeyPct) null else s"k-${rnd.nextInt(keySpace)}"
      def time(): java.lang.Long =
        if (rnd.nextInt(100) < nullTimePct) null
        else java.lang.Long.valueOf(rnd.nextInt(tSpace).toLong)
      val lhs = freshDir()
      val rhs = freshDir()
      val left = (0 until 150 + rnd.nextInt(250))
        .map(i => (i.toLong, key(), time())).toDF("lid", "k", "lt")
      // right (key, time) UNIQUE — as-of ties are arbitrary by
      // contract, so randomized parity must not generate them
      val right = (0 until 80 + rnd.nextInt(150))
        .map(i => (s"k-${rnd.nextInt(keySpace)}", i.toLong, i * 3L))
        .toDF("rk", "rt", "rv")
      val sortedL = rnd.nextBoolean()
      Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("k", n)),
        sortBuckets = sortedL,
        sortAlso = if (sortedL && rnd.nextBoolean()) Seq("lt") else Nil)
      Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rk", n)),
        sortBuckets = rnd.nextBoolean())
      val l = Snapshots.readVersion(spark, lhs)
      val r = Snapshots.readVersion(spark, rhs)
      val backward = rnd.nextBoolean()
      val tol: Option[Long] =
        if (rnd.nextBoolean()) Some(rnd.nextInt(tSpace).toLong) else None
      val got = Snapshots.bucketAlignedAsof(spark, lhs, rhs,
        "k", "rk", "lt", "rt",
        direction = if (backward) "backward" else "forward",
        tolerance = tol)
      assert(Snapshots.alignedShuffleFree(got), s"trial $trial shuffle")
      val matchCond = col("k") === col("rk") &&
        (if (backward) col("rt") <= col("lt") else col("rt") >= col("lt")) &&
        tol.map(t =>
          (if (backward) col("lt") - col("rt") else col("rt") - col("lt"))
            <= t).getOrElse(lit(true))
      val cand = l.join(r, matchCond, "left")
      val w = Window.partitionBy("lid").orderBy(
        if (backward) col("rt").desc_nulls_last else col("rt").asc_nulls_last)
      val expect = cand.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "rk")
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        s"trial $trial as-of (backward=$backward, tol=$tol)")
      val run = Snapshots.bucketAlignedRunning(spark, lhs, "lt", Seq(
        ("count", "*", "rn"), ("max", "lid", "rmax")))
      val wr = Window.partitionBy("k").orderBy(asc_nulls_first("lt"))
      val expRun = l.withColumn("rn", count(lit(1)).over(wr))
        .withColumn("rmax", max("lid").over(wr))
      assert(run.exceptAll(expRun).isEmpty && expRun.exceptAll(run).isEmpty,
        s"trial $trial running")
    }
  }

  test("randomized composite-marker maintenance: through random sorted/" +
    "plain appends, tail re-clusters, compactions, deletes and a " +
    "secondary rename, every marked file stays PHYSICALLY lex-sorted " +
    "and the aligned aggregate stays planner-exact (r15)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260817L)
    val dir = freshDir()
    var batch = 0
    var tCol = "t" // the secondary may get renamed mid-run
    // batches follow the CURRENT logical schema (the secondary may
    // get renamed mid-run; an old-named batch would add a new column)
    def nextBatch(rows: Int): org.apache.spark.sql.DataFrame = {
      batch += 1
      val base = batch * 100000
      (0 until rows).reverse.map(i =>
        ((i % 13).toLong, (base + i).toLong, s"p-$base-$i"))
        .toDF("k", "t", "payload").coalesce(1)
        .withColumnRenamed("t", tCol)
    }
    Snapshots.commit(nextBatch(300), dir, "overwrite",
      bucketBy = Some(("k", 4)), sortBuckets = true, sortAlso = Seq("t"))
    def latest() = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    // THE safety invariant: a marker may be absent (merely unsorted),
    // but a PRESENT marker must describe the file's physical order
    def assertMarkersTrue(m: Snapshots.Manifest): Unit =
      m.sortedFiles.foreach { case (rel, marker) =>
        val cols = marker.split(',').toSeq
        val phys = cols.map(m.physOf)
        val rows = spark.read.parquet(s"$dir/$rel")
          .selectExpr(phys.map(c => s"`$c`"): _*)
          .collect().map(r => cols.indices.map(i => r.getLong(i)).toList)
        implicit val ord: Ordering[List[Long]] =
          Ordering.Implicits.seqOrdering[List, Long]
        assert(rows.sameElements(rows.sorted),
          s"$rel claims sorted by $marker but is not")
      }
    def assertAggParity(): Unit = {
      val agg = Snapshots.bucketAlignedAggregate(spark, dir, Seq(
        ("count", "*", "n"), ("max", tCol, "mt")))
      val expect = Snapshots.readVersion(spark, dir).groupBy("k").agg(
        count(lit(1)).as("n"), max(tCol).as("mt"))
      assert(agg.exceptAll(expect).isEmpty && expect.exceptAll(agg).isEmpty)
    }
    var renamed = false
    (0 until 10).foreach { step =>
      rnd.nextInt(6) match {
        case 0 => // sorted composite append
          Snapshots.commit(nextBatch(60 + rnd.nextInt(100)), dir, "append",
            bucketBy = Some(("k", 4)), sortBuckets = true,
            sortAlso = Seq(tCol))
        case 1 => // plain append (unmarked tail)
          Snapshots.commit(nextBatch(30), dir, "append")
        case 2 => // O(tail) repair keeping the composite layout
          Snapshots.clusterTail(spark, dir, sort = true,
            sortAlso = Seq(tCol))
        case 3 => // partial rewrite: rewritten files lose markers (safe)
          Snapshots.compactSmall(spark, dir, minBytes = 4096,
            targetBytes = 1 << 20)
        case 4 => // dv mask (skip-sort ineligible; sorter path serves)
          Snapshots.deleteWhere(spark, dir,
            col(s"`$tCol`") % 11 === (step % 11))
        case 5 =>
          if (!renamed) {
            Snapshots.renameColumn(spark, dir, tCol, "event_t")
            tCol = "event_t"; renamed = true
          } else // full sorted rewrite restores the whole layout
            Snapshots.compactBucketed(spark, dir, "k", 4,
              sort = true, sortAlso = Seq(tCol))
      }
      val m = latest()
      assertMarkersTrue(m)
      // the aligned read refuses unclustered tails by contract —
      // parity only checks when the layout is whole
      if (m.files.forall(m.buckets.contains)) assertAggParity()
    }
    // end state still serves the composed read; a final full sorted
    // rewrite restores complete markers whatever the history did
    Snapshots.compactBucketed(spark, dir, "k", 4, sort = true,
      sortAlso = Seq(tCol))
    val end = latest()
    assert(end.sortedFiles.keySet === end.files.toSet &&
      end.sortedFiles.values.toSet === Set(s"k,$tCol"))
    assertMarkersTrue(end)
    assertAggParity()
  }

  test("composite sort markers: sortAlso records (key, secondary) order, " +
    "files physically lex-sorted, PREFIX serves key-only reads, drop " +
    "truncates / rename follows, cold parse round-trips (r15)") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // adversarial arrival: descending on BOTH columns
    val df = (0 until 600).reverse.map(i =>
        (i % 23L, (i * 7 % 101).toLong, s"p-$i"))
      .toDF("k", "ts", "payload").coalesce(1)
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("k", 4)),
      sortBuckets = true, sortAlso = Seq("ts"))
    val m0 = Snapshots.readManifest(spark, dir, 0L)
    assert(m0.sortedFiles.values.toSet === Set("k,ts"),
      "composite marker records the full sort-column list")
    // physical contract: each file lexicographically (k, ts)-ordered
    m0.files.foreach { rel =>
      val rows = spark.read.parquet(s"$dir/$rel")
        .select("k", "ts").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sameElements(rows.sorted), s"$rel must be (k,ts)-sorted")
    }
    // PREFIX serving: a key-only aligned aggregate skips its sort on
    // the composite marker (sorted by (k, ts) ⇒ sorted by k)
    val agg = Snapshots.bucketAlignedAggregate(spark, dir, Seq(
      ("count", "*", "n"), ("sum", "ts", "st")))
    assert(Snapshots.alignedShuffleFree(agg) &&
      Snapshots.alignedSortFree(agg),
      "composite markers must serve the key-prefix read sort-free")
    val expect = Snapshots.readVersion(spark, dir).groupBy("k").agg(
      count(lit(1)).as("n"), sum("ts").as("st"))
    assert(agg.exceptAll(expect).isEmpty && expect.exceptAll(agg).isEmpty)
    // a key-only-sorted table CANNOT serve a (k, ts) read sort-free:
    // the as-of/running operators below fall back to the sorter there
    // (pinned in their own tests); here pin the marker semantics —
    // renaming the SECONDARY column follows it inside the marker
    Snapshots.renameColumn(spark, dir, "ts", "event_ts")
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    assert(m1.sortedFiles.values.toSet === Set("k,event_ts"))
    // cold parse: serialized `sorted=` lines round-trip the composite
    val copy = freshDir()
    copyTable(dir, copy)
    assert(Snapshots.readManifest(spark, copy, 1L).sortedFiles ===
      m1.sortedFiles)
    // dropping the secondary TRUNCATES the marker to the surviving
    // prefix (order by (k, dead) is still order by k) — the layout
    // keeps serving key-prefix reads sort-free
    Snapshots.dropColumn(spark, dir, "event_ts")
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(m2.sortedFiles.values.toSet === Set("k"),
      "dropped secondary truncates, never kills, the marker")
    val agg2 = Snapshots.bucketAlignedAggregate(spark, dir, Seq(
      ("count", "*", "n")))
    assert(Snapshots.alignedSortFree(agg2),
      "the truncated marker still serves the key read")
    // clusterTail(sortAlso): an O(tail) repair keeps a composite
    // layout whole — tail files gain the SAME composite marker
    val dir2 = freshDir()
    Snapshots.commit(df, dir2, "overwrite", bucketBy = Some(("k", 4)),
      sortBuckets = true, sortAlso = Seq("ts"))
    Snapshots.commit(Seq((99L, 5L, "late")).toDF("k", "ts", "payload"),
      dir2, "append")
    val v3 = Snapshots.clusterTail(spark, dir2, sort = true,
      sortAlso = Seq("ts"))
    val m3 = Snapshots.readManifest(spark, dir2, v3)
    assert(m3.sortedFiles.keySet === m3.files.toSet &&
      m3.sortedFiles.values.toSet === Set("k,ts"),
      "the repaired tail matches the bulk's composite marker")
    // misuse refusals
    intercept[IllegalArgumentException] { // sortAlso without sortBuckets
      Snapshots.commit(df, freshDir(), "overwrite",
        bucketBy = Some(("k", 4)), sortAlso = Seq("ts"))
    }
    intercept[IllegalArgumentException] { // duplicate sort column
      Snapshots.commit(df, freshDir(), "overwrite",
        bucketBy = Some(("k", 4)), sortBuckets = true,
        sortAlso = Seq("k"))
    }
    intercept[IllegalArgumentException] { // unknown column
      Snapshots.commit(df, freshDir(), "overwrite",
        bucketBy = Some(("k", 4)), sortBuckets = true,
        sortAlso = Seq("nope"))
    }
  }

  test("bucketAlignedAsof: point-in-time parity with the planner's " +
    "join-on-greatest-time, zero Exchange; composite-sorted layouts add " +
    "zero Sort; NULL keys/times follow SQL; refusals (r15)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lhs = freshDir()
    val rhs = freshDir()
    // left: events with unique lid; every 9th left time NULL; every
    // 13th key NULL. right: state rows with UNIQUE (key, time) —
    // ties would make any as-of nondeterministic — plus NULL-time
    // rows that must never match.
    val left = (0 until 500).reverse.map { i =>
      (i.toLong,
        if (i % 13 == 0) null else s"e-${i % 29}",
        if (i % 9 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf((i * 3 % 211).toLong))
    }.toDF("lid", "k", "lt").coalesce(1)
    val right = ((0 until 300).reverse.map { i =>
      (s"e-${i % 31}",
        java.lang.Long.valueOf((i / 31 * 31 + i % 31).toLong),
        s"state-$i")
    } ++ Seq(("e-1", null.asInstanceOf[java.lang.Long], "never")))
      .toDF("rk", "rt", "rv").coalesce(1)
    Snapshots.commit(left, lhs, "overwrite", bucketBy = Some(("k", 4)),
      sortBuckets = true, sortAlso = Seq("lt"))
    Snapshots.commit(right, rhs, "overwrite", bucketBy = Some(("rk", 4)),
      sortBuckets = true, sortAlso = Seq("rt"))
    // the planner's answer: all candidates rt ≤ lt, keep the greatest
    // rt per left row (rt unique per key ⇒ deterministic)
    val l = Snapshots.readVersion(spark, lhs)
    val r = Snapshots.readVersion(spark, rhs)
    val cand = l.join(r, col("k") === col("rk") && col("rt") <= col("lt"),
      "left")
    val w = Window.partitionBy("lid").orderBy(col("rt").desc_nulls_last)
    val expectLeft = cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "rk")
    for ((jt, expect) <- Seq(
        ("left", expectLeft),
        ("inner", expectLeft.filter(col("rt").isNotNull)))) {
      val got = Snapshots.bucketAlignedAsof(spark, lhs, rhs,
        "k", "rk", "lt", "rt", joinType = jt)
      assert(Snapshots.alignedShuffleFree(got),
        s"$jt as-of must shuffle nothing")
      assert(Snapshots.alignedSortFree(got),
        s"$jt as-of over (key,time)-sorted layouts must not sort")
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        s"$jt as-of parity")
    }
    // key-only-sorted (or unsorted) layouts: the sorter path takes
    // over — witness reports the Sort, rows identical
    val lhsPlain = freshDir()
    Snapshots.commit(left, lhsPlain, "overwrite",
      bucketBy = Some(("k", 4)), sortBuckets = true)
    val gotPlain = Snapshots.bucketAlignedAsof(spark, lhsPlain, rhs,
      "k", "rk", "lt", "rt")
    assert(Snapshots.alignedShuffleFree(gotPlain) &&
      !Snapshots.alignedSortFree(gotPlain),
      "a (key)-only marker cannot serve the (key,time) read sort-free")
    assert(gotPlain.exceptAll(expectLeft).isEmpty &&
      expectLeft.exceptAll(gotPlain).isEmpty)
    // refusals: duplicate output name, mismatched time types, float
    // times, unknown time column, bad joinType
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAsof(spark, lhs, rhs, "k", "rk", "lt", "rt",
        joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAsof(spark, lhs, rhs, "k", "rk", "lt", "nope")
    }
    val rhsClash = freshDir()
    Snapshots.commit(right.withColumnRenamed("rv", "lt"), rhsClash,
      "overwrite", bucketBy = Some(("rk", 4)))
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAsof(spark, lhs, rhsClash, "k", "rk",
        "lt", "rt")
    }
    // FORWARD direction: the smallest right time ≥ the left time —
    // parity with the planner's min-over-candidates
    val candF = l.join(r, col("k") === col("rk") && col("rt") >= col("lt"),
      "left")
    val wF = Window.partitionBy("lid").orderBy(col("rt").asc_nulls_last)
    val expectFwd = candF.withColumn("__rn", row_number().over(wF))
      .filter(col("__rn") === 1).drop("__rn", "rk")
    val gotFwd = Snapshots.bucketAlignedAsof(spark, lhs, rhs,
      "k", "rk", "lt", "rt", direction = "forward")
    assert(Snapshots.alignedShuffleFree(gotFwd) &&
      Snapshots.alignedSortFree(gotFwd))
    assert(gotFwd.exceptAll(expectFwd).isEmpty &&
      expectFwd.exceptAll(gotFwd).isEmpty, "forward as-of parity")
    // TOLERANCE: a staleness bound — candidates further than tol (in
    // the long column's own units here) refuse to match; equivalent
    // to post-filtering the unbounded match on the gap and
    // NULL-extending the evictees
    val tol = 7L
    val unbounded = Snapshots.bucketAlignedAsof(spark, lhs, rhs,
      "k", "rk", "lt", "rt")
    val expectTol = unbounded
      .withColumn("__keep",
        col("rt").isNotNull && (col("lt") - col("rt")) <= tol)
      .select(col("lid"), col("k"), col("lt"),
        when(col("__keep"), col("rt")).as("rt"),
        when(col("__keep"), col("rv")).as("rv"))
    val gotTol = Snapshots.bucketAlignedAsof(spark, lhs, rhs,
      "k", "rk", "lt", "rt", tolerance = Some(tol))
    assert(gotTol.exceptAll(expectTol).isEmpty &&
      expectTol.exceptAll(gotTol).isEmpty, "tolerance parity")
    assert(gotTol.filter(col("rv").isNotNull).count() <
      unbounded.filter(col("rv").isNotNull).count(),
      "the tolerance really evicted stale matches")
    // tolerance refusals: negative, or a non-numeric-internal time
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAsof(spark, lhs, rhs, "k", "rk", "lt", "rt",
        tolerance = Some(-1L))
    }
  }

  test("bucketAlignedRunning: running aggregates equal Spark's own " +
    "RANGE-frame window (ties are peers), zero Exchange; sorted layouts " +
    "zero Sort; NULL keys form one partition (r15)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = freshDir()
    // ties on (k, t) — RANGE peers; NULL keys; NULL order values;
    // NULL inputs; descending arrival
    val df = ((0 until 600).reverse.map { i =>
      (if (i % 17 == 0) null else s"g-${i % 19}",
        if (i % 11 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf((i % 13).toLong), // heavy ties
        if (i % 7 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(i.toLong))
    }).toDF("k", "t", "v").coalesce(1)
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("k", 4)),
      sortBuckets = true, sortAlso = Seq("t"))
    val got = Snapshots.bucketAlignedRunning(spark, dir, "t", Seq(
      ("count", "*", "rn"), ("sum", "v", "rs"),
      ("min", "v", "rmin"), ("max", "v", "rmax")))
    assert(Snapshots.alignedShuffleFree(got) &&
      Snapshots.alignedSortFree(got),
      "running windows over a (key,order)-sorted layout stream directly")
    // Spark's own default frame with ORDER BY is RANGE UNBOUNDED
    // PRECEDING..CURRENT ROW — the exact semantics implemented
    val w = Window.partitionBy("k").orderBy(asc_nulls_first("t"))
    val expect = Snapshots.readVersion(spark, dir)
      .withColumn("rn", count(lit(1)).over(w))
      .withColumn("rs", sum("v").over(w))
      .withColumn("rmin", min("v").over(w))
      .withColumn("rmax", max("v").over(w))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "running parity incl. ties, NULL keys, NULL order values")
    // unsorted twin: sorter fallback, same rows
    val plain = freshDir()
    Snapshots.commit(df, plain, "overwrite", bucketBy = Some(("k", 4)))
    val gotPlain = Snapshots.bucketAlignedRunning(spark, plain, "t", Seq(
      ("count", "*", "rn"), ("sum", "v", "rs"),
      ("min", "v", "rmin"), ("max", "v", "rmax")))
    assert(!Snapshots.alignedSortFree(gotPlain))
    assert(gotPlain.exceptAll(expect).isEmpty &&
      expect.exceptAll(gotPlain).isEmpty)
    // refusals: alias shadowing a column, unknown order column
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedRunning(spark, dir, "t", Seq(("sum", "v", "v")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedRunning(spark, dir, "nope",
        Seq(("sum", "v", "rs")))
    }
  }

  test("range-windowed aligned reads (r16): ranges prune files AND " +
    "filter rows — parity with the planner over the filtered read, " +
    "pruning witnessed on the execution, mid-slice bounds stay exact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = freshDir()
    // three time-sliced sorted-bucketed commits with t footer stats:
    // each bucket holds one file per slice with a TIGHT t range —
    // the shape a streaming feature store accretes
    def slab(lo: Int, hi: Int) = (lo until hi).reverse.map { i =>
      (s"g-${i % 7}", i.toLong, (i * 3).toLong)
    }.toDF("k", "t", "v").coalesce(1)
    Seq((0, 200), (200, 400), (400, 600)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        Snapshots.commit(slab(lo, hi), dir,
          if (i == 0) "overwrite" else "append",
          bucketBy = Some(("k", 4)), sortBuckets = true,
          sortAlso = Seq("t"), statsColumns = Seq("t"))
    }
    val m = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    val total = m.files.size
    // MID-SLICE bounds: file stats keep slice 1 (0..199 overlaps
    // t>=150) and slice 2 whole; slice 3 (400..599) prunes away; the
    // row filter inside slice 1's scan keeps the semantics exact
    val ranges = Seq(("t", 150L.asInstanceOf[Any], 390L.asInstanceOf[Any]))
    val win = col("t") >= 150L && col("t") <= 390L
    val filtered = Snapshots.readVersion(spark, dir).filter(win)

    // aggregate
    val agg = Snapshots.bucketAlignedAggregate(spark, dir,
      Seq(("count", "*", "n"), ("sum", "v", "sv")), ranges = ranges)
    assert(Snapshots.alignedShuffleFree(agg) && Snapshots.alignedSortFree(agg))
    assert(Snapshots.alignedPlanCount() > 0 &&
      Snapshots.alignedPlanCount() < total,
      "the window must skip slice-3 files (fewer per-file plans than files)")
    val expAgg = filtered.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    assert(agg.exceptAll(expAgg).isEmpty && expAgg.exceptAll(agg).isEmpty,
      "windowed aggregate parity")

    // running window
    val run = Snapshots.bucketAlignedRunning(spark, dir, "t",
      Seq(("sum", "v", "rs")), ranges = ranges)
    assert(Snapshots.alignedPlanCount() < total)
    val w = Window.partitionBy("k").orderBy(asc_nulls_first("t"))
    val expRun = filtered.withColumn("rs", sum("v").over(w))
    assert(run.exceptAll(expRun).isEmpty && expRun.exceptAll(run).isEmpty,
      "windowed running parity")

    // latest-by-key
    val latest = Snapshots.bucketAlignedLatest(spark, dir, "t",
      ranges = ranges)
    val wl = Window.partitionBy("k").orderBy(col("t").desc_nulls_last)
    val expLatest = filtered.withColumn("__rn", row_number().over(wl))
      .filter(col("__rn") === 1).drop("__rn")
    assert(latest.exceptAll(expLatest).isEmpty &&
      expLatest.exceptAll(latest).isEmpty, "windowed latest parity")

    // join + as-of against a second windowed table
    val rhs = freshDir()
    Seq((0, 300), (300, 600)).zipWithIndex.foreach { case ((lo, hi), i) =>
      Snapshots.commit(
        (lo until hi).map(j => (s"g-${j % 7}", j.toLong, s"r-$j"))
          .toDF("rk", "rt", "rv").coalesce(1),
        rhs, if (i == 0) "overwrite" else "append",
        bucketBy = Some(("rk", 4)), sortBuckets = true,
        sortAlso = Seq("rt"), statsColumns = Seq("rt"))
    }
    val rRanges = Seq(("rt", 0L.asInstanceOf[Any], 250L.asInstanceOf[Any]))
    val rwin = col("rt") >= 0L && col("rt") <= 250L
    val rFiltered = Snapshots.readVersion(spark, rhs).filter(rwin)
    val joined = Snapshots.bucketAlignedJoin(spark, dir, rhs, "k", "rk",
      leftRanges = ranges, rightRanges = rRanges)
    assert(Snapshots.alignedShuffleFree(joined))
    val expJoin = filtered.join(rFiltered, col("k") === col("rk"))
    assert(joined.exceptAll(expJoin).isEmpty &&
      expJoin.exceptAll(joined).isEmpty, "windowed join parity")
    val asof = Snapshots.bucketAlignedAsof(spark, dir, rhs,
      "k", "rk", "t", "rt", leftRanges = ranges, rightRanges = rRanges)
    assert(Snapshots.alignedShuffleFree(asof) &&
      Snapshots.alignedSortFree(asof))
    val candA = filtered.join(rFiltered,
      col("k") === col("rk") && col("rt") <= col("t"), "left")
    val wa = Window.partitionBy("k", "t", "v")
      .orderBy(col("rt").desc_nulls_last)
    val expAsof = candA.withColumn("__rn", row_number().over(wa))
      .filter(col("__rn") === 1).drop("__rn", "rk")
    assert(asof.exceptAll(expAsof).isEmpty &&
      expAsof.exceptAll(asof).isEmpty, "windowed as-of parity")

    // refusals: unknown range column; a missing bound
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n")), ranges = Seq(("nope", 1L, 2L)))
    }
    intercept[IllegalArgumentException] {
      Snapshots.bucketAlignedAggregate(spark, dir,
        Seq(("count", "*", "n")), ranges = Seq(("t", null, 2L)))
    }
  }

  test("sub-bucket fold parallelism (r16): an oversized bucket plans " +
    ">1 task, rows identical (NULL keys included), plans still " +
    "Exchange-free; joins stay single-task per bucket") {
    val s = spark
    import s.implicits._
    val dir = freshDir()
    // skewed + NULL keys: the null group and heavy keys must land
    // WHOLE in one sub-task each (key-disjoint split, no partials)
    val df = (0 until 2000).map { i =>
      (if (i % 23 == 0) null else s"k-${i % 11}", i.toLong)
    }.toDF("k", "v").coalesce(1)
    Snapshots.commit(df, dir, "overwrite", bucketBy = Some(("k", 4)))
    val aggs = Seq(("count", "*", "n"), ("sum", "v", "sv"))
    val base = Snapshots.bucketAlignedAggregate(spark, dir, aggs)
    assert(base.queryExecution.toRdd.getNumPartitions === 4)
    val expect = base.collect().map(_.toString).sorted.toSeq
    val m = Snapshots.readManifest(spark, dir, 0L)
    // budget = half the biggest bucket's bytes → every non-empty
    // bucket splits into ≥ 2 sub-tasks
    val maxBucket = m.files.groupBy(m.buckets).values
      .map(_.map(m.fileBytes).sum).max
    try {
      spark.conf.set("graft.aligned.splitBucketBytes",
        (maxBucket / 2).toString)
      val split = Snapshots.bucketAlignedAggregate(spark, dir, aggs)
      assert(split.queryExecution.toRdd.getNumPartitions > 4,
        "an oversized bucket must plan more than one task")
      assert(Snapshots.alignedShuffleFree(split),
        "the key-disjoint split must add no Exchange")
      assert(split.collect().map(_.toString).sorted.toSeq === expect,
        "split fold parity (final rows, never partials)")
      // latest-by-key under the same budget
      val latest = Snapshots.bucketAlignedLatest(spark, dir, "v")
      assert(latest.queryExecution.toRdd.getNumPartitions > 4)
      assert(Snapshots.alignedShuffleFree(latest))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("v").desc_nulls_last)
      val expLatest = Snapshots.readVersion(spark, dir)
        .filter(col("k").isNotNull)
        .withColumn("__rn", row_number().over(wl))
        .filter(col("__rn") === 1).drop("__rn")
      assert(latest.exceptAll(expLatest).isEmpty &&
        expLatest.exceptAll(latest).isEmpty)
      // the JOIN family ignores the budget — its semantics need the
      // whole key stream per task
      val rhs = freshDir()
      Snapshots.commit(
        (0 until 11).map(i => (s"k-$i", s"dim-$i")).toDF("rk", "dv")
          .coalesce(1),
        rhs, "overwrite", bucketBy = Some(("rk", 4)))
      val joined = Snapshots.bucketAlignedJoin(spark, dir, rhs, "k", "rk")
      assert(joined.queryExecution.toRdd.getNumPartitions === 4,
        "joins must stay one task per bucket")
    } finally spark.conf.unset("graft.aligned.splitBucketBytes")
    // budget off again: plans revert to one task per bucket
    val off = Snapshots.bucketAlignedAggregate(spark, dir, aggs)
    assert(off.queryExecution.toRdd.getNumPartitions === 4)
  }

  test("checkpoint-planned aligned reads (r16): the planner consults " +
    "only tail segments, decisions and rows equal the eager path " +
    "through tombstones, windows and sorted markers") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dir = freshDir()
    // sorted-bucketed slices with stats, a checkpoint mid-history, a
    // TOMBSTONE after it (compactSmall folds the small slice), then a
    // tail commit the checkpoint does not cover
    def slab(lo: Int, hi: Int) = (lo until hi).reverse.map { i =>
      (s"g-${i % 5}", i.toLong, (i * 7).toLong)
    }.toDF("k", "t", "v").coalesce(1)
    Snapshots.commit(slab(0, 400), dir, "overwrite",
      bucketBy = Some(("k", 4)), sortBuckets = true, sortAlso = Seq("t"),
      statsColumns = Seq("t"))
    Snapshots.commit(slab(400, 420), dir, "append",
      bucketBy = Some(("k", 4)), sortBuckets = true, sortAlso = Seq("t"),
      statsColumns = Seq("t"))
    Snapshots.writeMetadataCheckpoint(spark, dir)
    // a masked delete + purge rewrites the first slice's files →
    // tombstones against CHECKPOINTED segments; the purge keeps the
    // bucket layout (writeLayout) but rightly drops the rewritten
    // files' sorted markers on both paths
    Snapshots.deleteWhere(spark, dir, col("t") < 10L)
    Snapshots.purgeDeletes(spark, dir, statsColumns = Seq("t"))
    Snapshots.commit(slab(420, 600), dir, "append",
      bucketBy = Some(("k", 4)), sortBuckets = true, sortAlso = Seq("t"),
      statsColumns = Seq("t"))
    val v = Snapshots.latestVersion(spark, dir).get
    val eager = Snapshots.readManifest(spark, dir, v)
    val ranges = Seq(("t", 100L.asInstanceOf[Any], 500L.asInstanceOf[Any]))
    val aggs = Seq(("count", "*", "n"), ("sum", "v", "sv"))

    // the planner path consults ONLY segments outside the checkpoint
    val ckSegs = {
      // covered = segments the checkpoint transcribed = the segment
      // list at checkpoint time; everything later is tail
      val mCk = Snapshots.readManifest(spark, dir, 1L)
      mCk.segments.toSet
    }
    val touched = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Snapshots.segmentTouchHook.set((rel: String) => { touched.add(rel); () })
    val (got, gotWin) =
      try {
        val g = Snapshots.bucketAlignedAggregate(spark, dir, aggs)
        val gw = Snapshots.bucketAlignedAggregate(spark, dir, aggs,
          ranges = ranges)
        (g.collect().map(_.toString).sorted.toSeq,
          gw.collect().map(_.toString).sorted.toSeq)
      } finally Snapshots.segmentTouchHook.set(null)
    val touchedSet =
      scala.jdk.CollectionConverters.SetHasAsScala(touched).asScala.toSet
    assert(touchedSet.intersect(ckSegs).isEmpty,
      s"checkpoint-planned aligned reads must not parse covered " +
        s"segments: touched $touchedSet of covered $ckSegs")
    // rows identical to the same aggregates computed relationally
    // (the eager resolve is covered on tables with no checkpoint)
    def relational(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .collect().map(_.toString).sorted.toSeq
    val all = Snapshots.readVersion(spark, dir)
    assert(got === relational(all), "checkpoint-planned aggregate parity")
    assert(gotWin === relational(all.filter(col("t").between(100L, 500L))),
      "checkpoint-planned windowed parity")
    // sorted markers survive the checkpoint transcription: the
    // order-sensitive operator stays sort-free on the sorted files…
    val run = Snapshots.bucketAlignedRunning(spark, dir, "t",
      Seq(("sum", "v", "rs")),
      ranges = Seq(("t", 420L.asInstanceOf[Any], 600L.asInstanceOf[Any])))
    assert(Snapshots.alignedShuffleFree(run) &&
      Snapshots.alignedSortFree(run),
      "ckpt-planned sorted markers must serve the skip-sort path")
    val w = Window.partitionBy("k").orderBy(asc_nulls_first("t"))
    val expRun = Snapshots.readVersion(spark, dir)
      .filter(col("t") >= 420L && col("t") <= 600L)
      .withColumn("rs", sum("v").over(w))
    assert(run.exceptAll(expRun).isEmpty && expRun.exceptAll(run).isEmpty)
    // …and the planner's per-file maps equal the eager manifest's on
    // the surviving files (decisions-identical, not just row-identical)
    val planned = Snapshots.liveEntriesCheckpointed(spark, dir,
      Snapshots.parseManifest(spark, dir, v), Snapshots.coverOf(spark, dir, v),
      (_: Snapshots.CkptFile) => true)
    assert(planned.map(_.file).toSet === eager.files.toSet)
    assert(planned.flatMap(e => e.bucket.map(e.file -> _)).toMap ===
      eager.buckets)
    assert(planned.map(e => e.file -> e.bytes).toMap ===
      eager.fileBytes)
    assert(planned.flatMap(e => e.sortedBy.map(e.file -> _)).toMap ===
      eager.sortedFiles,
      "transcribed sorted markers must equal the manifest assembly's")
  }
}
