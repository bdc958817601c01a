package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Column mapping: RENAME/DROP COLUMN as O(1) metadata commits —
  * physical on-file names never change, the logical schema reads
  * through the mapping, dropped names retire so their bytes can never
  * resurface, and stats keep pruning across a rename.
  */
class ColumnMappingSpec extends SparkSpec {

  private def freshDir(): String = graft.TempDirs.create("graft-colmap-spec")

  private def frame(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, i * 10L, s"t$i")).toDF("id", "amount", "tag")
  }

  private def segCount(dir: String): Int = {
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val d = new Path(dir, "_manifests/segments")
    if (!f.exists(d)) 0 else f.listStatus(d).length
  }

  test("rename is metadata-only; reads, pruning and appends flow through") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 40).repartition(4, col("id")), dir,
      "overwrite", statsColumns = Seq("id", "amount"))
    val segsBefore = segCount(dir)
    val v = Snapshots.renameColumn(spark, dir, "amount", "price")
    // O(1): no new segment was written, no data moved
    assert(segCount(dir) === segsBefore)
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.schema.fieldNames.toSeq === Seq("id", "price", "tag"))
    assert(m.colMap === Map("price" -> "amount"))
    // old files read through the new name with their values intact
    val got = Snapshots.readVersion(spark, dir)
    assert(got.columns.toSeq === Seq("id", "price", "tag"))
    assert(got.filter(col("price") === col("id") * 10).count() === 40L)
    // stats re-keyed: pruning on the RENAMED column still skips files
    assert(m.files.forall(fl => m.stats.contains((fl, "price"))))
    val pruned = Snapshots.readVersionFiltered(spark, dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("price", 50L)))
    assert(pruned.inputFiles.length < m.files.size,
      "stats must prune on the renamed column")
    assert(pruned.filter(col("price") === 50L).count() === 1L)
    // an append writes the PHYSICAL name; the view stays logical
    Snapshots.commit(frame(100 until 110).toDF("id", "price", "tag"),
      dir, "append", statsColumns = Seq("id"))
    val all = Snapshots.readVersion(spark, dir)
    assert(all.count() === 50L)
    assert(all.filter(col("price") === col("id") * 10).count() === 50L)
  }

  test("DML on a renamed column: UPDATE, DELETE, MERGE") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 30), dir, "overwrite",
      statsColumns = Seq("id"))
    Snapshots.renameColumn(spark, dir, "amount", "price")
    Snapshots.updateWhere(spark, dir, col("id") < 5L,
      Map("price" -> (col("price") + 1L)))
    Snapshots.deleteWhere(spark, dir, col("price") === 290L) // id 29
    val s = spark
    import s.implicits._
    Snapshots.mergeOnRead(spark, dir,
      Seq((7L, 777L, "m", "U")).toDF("id", "price", "tag", "op"), "id")
    val got = Snapshots.readVersion(spark, dir)
      .select("id", "price").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 29)
    assert(got(0L) === 1L && got(4L) === 41L) // updated
    assert(got(7L) === 777L) // merged
    assert(!got.contains(29L)) // deleted
    assert(got(10L) === 100L) // untouched
  }

  test("drop retires the physical name; a re-added column reads NULL, not ghosts") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 20), dir, "overwrite")
    Snapshots.dropColumn(spark, dir, "tag")
    val m1 = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(m1.schema.fieldNames.toSeq === Seq("id", "amount"))
    assert(m1.retiredCols === Seq("tag"))
    assert(Snapshots.readVersion(spark, dir).columns.toSeq ===
      Seq("id", "amount"))
    // re-add "tag": the ghost bytes in old files must NOT surface
    Snapshots.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    val re = Snapshots.readVersion(spark, dir)
    assert(re.columns.toSeq === Seq("id", "amount", "tag"))
    assert(re.filter(col("tag").isNotNull).count() === 0L,
      "a re-added dropped column must read NULL from old files")
    // and new rows land in the FRESH physical slot, readable
    val s = spark
    import s.implicits._
    Snapshots.commit(Seq((500L, 1L, "fresh")).toDF("id", "amount", "tag"),
      dir, "append")
    assert(Snapshots.readVersion(spark, dir)
      .filter(col("tag") === "fresh").count() === 1L)
    // time travel: the pre-drop version still serves the old column
    assert(Snapshots.readVersion(spark, dir, Some(0L))
      .filter(col("tag") === "t3").count() === 1L)
  }

  test("refusals: layout columns, CHECK references, last column") {
    val dir = freshDir()
    Snapshots.commit(frame(0 until 10), dir, "overwrite",
      partitionBy = Seq("tag"), bucketBy = Some(("id", 2)))
    intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, dir, "tag") // partition column
    }
    intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, dir, "id") // bucket key
    }
    Snapshots.addCheckConstraint(spark, dir, "amt_ok", "amount >= 0")
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, dir, "amount", "price")
    }
    intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, dir, "amount")
    }
    // a QUALIFIED reference (`t.amount`) must block the rename too —
    // matching only the head name part would let a dangling
    // constraint through that fails every later commit
    Snapshots.addCheckConstraint(spark, dir, "amt_q", "t.amount < 1000000",
      validateExisting = false)
    Snapshots.dropCheckConstraint(spark, dir, "amt_ok")
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, dir, "amount", "price")
    }
    Snapshots.dropCheckConstraint(spark, dir, "amt_q")
    // renaming a partition column re-keys the spec
    Snapshots.renameColumn(spark, dir, "tag", "label")
    val m = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(m.partitionCols === Seq("label"))
    val dir2 = freshDir()
    val s = spark
    import s.implicits._
    Snapshots.commit(Seq((1L, 1L)).toDF("a", "b").select("a"), dir2, "overwrite")
    intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, dir2, "a") // last column
    }
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN by name; overwrite folds the mapping away") {
    val w = graft.TempDirs.create("graft-colmap-wh")
    spark.conf.set("spark.sql.catalog.gcm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcm.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcm.db")
    spark.sql("DROP TABLE IF EXISTS gcm.db.cm")
    spark.sql("CREATE TABLE gcm.db.cm USING graft AS " +
      "SELECT id, CAST(id * 2 AS DOUBLE) AS price FROM RANGE(20)")
    spark.sql("ALTER TABLE gcm.db.cm RENAME COLUMN price TO cost")
    assert(spark.table("gcm.db.cm").columns.toSeq === Seq("id", "cost"))
    assert(spark.sql("SELECT SUM(cost) FROM gcm.db.cm").head().getDouble(0)
      === (0 until 20).map(_ * 2.0).sum)
    spark.sql("UPDATE gcm.db.cm SET cost = cost + 1 WHERE id = 0")
    assert(spark.sql("SELECT cost FROM gcm.db.cm WHERE id = 0")
      .head().getDouble(0) === 1.0)
    spark.sql("ALTER TABLE gcm.db.cm ADD COLUMNS (note STRING)")
    spark.sql("ALTER TABLE gcm.db.cm DROP COLUMN note")
    assert(spark.table("gcm.db.cm").columns.toSeq === Seq("id", "cost"))
    // an INSERT OVERWRITE rewrites with logical names: mapping gone
    spark.sql("INSERT OVERWRITE gcm.db.cm SELECT id, CAST(9 AS DOUBLE) FROM RANGE(3)")
    val dir = s"$w/db/cm"
    val m = Snapshots.readManifest(spark, dir,
      Snapshots.latestVersion(spark, dir).get)
    assert(m.colMap.isEmpty && m.retiredCols.isEmpty)
    assert(spark.table("gcm.db.cm").count() === 3L)
    spark.sql("DROP TABLE gcm.db.cm")
  }

  test("rename then compactSmall: rewritten files keep physical names, stats re-key") {
    val dir = freshDir()
    // many tiny files so compactSmall has work; stats on both columns
    Snapshots.commit(frame(0 until 40).repartition(8), dir,
      "overwrite", statsColumns = Seq("id", "amount"))
    Snapshots.renameColumn(spark, dir, "amount", "price")
    // also exercise the dv-consolidation path across the rewrite
    Snapshots.deleteWhere(spark, dir, col("price") === 100L) // id 10
    val v = Snapshots.compactSmall(spark, dir, minBytes = 1L << 30,
      statsColumns = Seq("id", "price"))
    val m = Snapshots.readManifest(spark, dir, v)
    assert(m.colMap === Map("price" -> "amount"),
      "compaction must not fold the mapping away")
    // the compacted files must carry the PHYSICAL name on disk
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    m.files.foreach { rel =>
      val raw = spark.read.parquet(new Path(dir, rel).toString)
      assert(raw.columns.contains("amount") && !raw.columns.contains("price"),
        s"$rel must store the physical column name")
    }
    // the renamed column reads back its VALUES, not NULLs
    val got = Snapshots.readVersion(spark, dir)
    assert(got.columns.toSeq === Seq("id", "price", "tag"))
    assert(got.filter(col("price").isNull).count() === 0L)
    assert(got.filter(col("price") === col("id") * 10).count() === 39L)
    // stats recorded under the LOGICAL key so pruning still works
    assert(m.files.forall(fl => m.stats.contains((fl, "price"))),
      "compacted files must re-key footer stats to the logical name")
    // an append after the compaction still flows through the mapping
    Snapshots.commit(frame(100 until 105).toDF("id", "price", "tag"),
      dir, "append", statsColumns = Seq("id", "price"))
    assert(Snapshots.readVersion(spark, dir)
      .filter(col("price") === col("id") * 10).count() === 44L)
  }
}
