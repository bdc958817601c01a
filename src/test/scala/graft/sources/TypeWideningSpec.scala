package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lossless type widening in schema evolution: the manifest records
  * the wider type, old files read through it IN PLACE (Spark 4's
  * parquet reader serves int32 as long, float as double, narrow
  * decimals wide), and the index machinery stays consistent — stale
  * blooms drop, bucket keys refuse to widen, narrow follow-up batches
  * hash at the table's recorded type.
  */
class TypeWideningSpec extends SparkSpec {

  private def intFrame(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i.toFloat / 2, BigDecimal(i).setScale(2)))
      .toDF("k", "x", "d")
      .select(col("k").cast("int"), col("x").cast("float"),
        col("d").cast("decimal(10,2)"))
  }

  private def longFrame(ids: Seq[Long]) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i.toDouble / 2, BigDecimal(i).setScale(4)))
      .toDF("k", "x", "d")
      .select(col("k").cast("long"), col("x").cast("double"),
        col("d").cast("decimal(16,4)"))
  }

  test("widening append: manifest takes the wide types, old files read in place") {
    val dir = graft.TempDirs.create("widen-append")
    Snapshots.commit(intFrame(0 until 50), dir, "overwrite")
    // int->long, float->double, decimal(10,2)->decimal(16,4), plus a
    // value only the wide types can hold
    Snapshots.commit(longFrame(Seq(5000000000L)), dir, "append")
    val m = Snapshots.readManifest(spark, dir, 1L)
    val types = m.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("k") === LongType)
    assert(types("x") === DoubleType)
    assert(types("d") === DecimalType(16, 4))
    val back = Snapshots.readVersion(spark, dir)
    assert(back.count() === 51L)
    assert(back.agg(sum("k")).head().getLong(0) ===
      (0 until 50).sum.toLong + 5000000000L)
    // old rows' values survive the widened read exactly
    assert(back.filter(col("k") === 7L).select("x").head().getDouble(0) === 3.5)
    assert(back.filter(col("k") === 7L).select("d").head()
      .getDecimal(0).compareTo(new java.math.BigDecimal("7.0000")) === 0)
    // v0 still reads with the ORIGINAL types (snapshot isolation of
    // the schema itself)
    assert(Snapshots.readVersion(spark, dir, Some(0L))
      .schema("k").dataType === IntegerType)
  }

  test("narrow batch into a widened table reads back widened") {
    val dir = graft.TempDirs.create("widen-narrow")
    Snapshots.commit(intFrame(0 until 20), dir, "overwrite")
    Snapshots.commit(longFrame(Seq(9000000000L)), dir, "append") // widen
    Snapshots.commit(intFrame(100 until 110), dir, "append") // narrow again
    val m = Snapshots.readManifest(spark, dir, 2L)
    assert(m.schema("k").dataType === LongType)
    val back = Snapshots.readVersion(spark, dir)
    assert(back.count() === 31L)
    assert(back.filter(col("k") >= 100L && col("k") < 110L).count() === 10L)
  }

  test("non-widening type changes are still refused") {
    val dir = graft.TempDirs.create("widen-refuse")
    Snapshots.commit(intFrame(0 until 10), dir, "overwrite")
    val s = spark
    import s.implicits._
    val bad = Seq(("oops", 1.0, 1.0)).toDF("k", "x", "d")
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(bad, dir, "append")
    }
    assert(e.getMessage.contains("not a lossless widening"))
    // long -> int (a narrowing of the declared type) refused too once
    // the table is long-typed... by being accepted as a narrow BATCH;
    // but long -> string is refused outright
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commit(intFrame(0 until 3)
        .withColumn("d", lit("nope")), dir, "append")
    }
    assert(e2.getMessage.contains("not a lossless widening"))
  }

  test("widening the bucket key is refused (mapping hashes the stored type)") {
    val dir = graft.TempDirs.create("widen-bucket")
    Snapshots.commit(intFrame(0 until 40), dir, "overwrite",
      bucketBy = Some(("k", 4)))
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(longFrame(Seq(9000000000L)), dir, "append")
    }
    assert(e.getMessage.contains("cannot widen bucket key"))
    // widening a NON-key column of a bucketed table is fine, and the
    // narrow follow-up batch still buckets consistently: a typed point
    // lookup finds rows from both narrow and wide commits
    val s = spark
    import s.implicits._
    val wideX = Seq((41, 99.5, BigDecimal("1.00")))
      .toDF("k", "x", "d")
      .select(col("k").cast("int"), col("x").cast("double"),
        col("d").cast("decimal(10,2)"))
    Snapshots.commit(wideX, dir, "append", bucketBy = Some(("k", 4)))
    assert(Snapshots.readManifest(spark, dir, 1L)
      .schema("x").dataType === DoubleType)
    val hit = Snapshots.readVersionKeys(spark, dir, "k", Seq(41))
    assert(hit.count() === 1L && hit.head().getDouble(1) === 99.5)
    val hit0 = Snapshots.readVersionKeys(spark, dir, "k", Seq(7))
    assert(hit0.count() === 1L)
  }

  test("widening drops the column's stale blooms; lookups stay exact") {
    val dir = graft.TempDirs.create("widen-bloom")
    Snapshots.commit(intFrame(0 until 60), dir, "overwrite",
      bloomColumns = Seq("k"))
    assert(Snapshots.readManifest(spark, dir, 0L)
      .blooms.keys.exists(_._2 == "k"))
    Snapshots.commit(longFrame(Seq(8000000000L)), dir, "append")
    val m1 = Snapshots.readManifest(spark, dir, 1L)
    // the int-hashed blooms are gone — a long-typed probe would have
    // mis-pruned the old files (losing rows), so the index goes
    assert(!m1.blooms.keys.exists(_._2 == "k"), m1.blooms.keys.toString)
    assert(Snapshots.readVersionKeys(spark, dir, "k", Seq(13L)).count() === 1L)
    // a NARROW batch into a bloom-indexed widened column hashes at the
    // table's recorded (wide) type, so typed probes match its blooms
    Snapshots.commit(intFrame(200 until 220), dir, "append",
      bloomColumns = Seq("k"))
    val m2 = Snapshots.readManifest(spark, dir, 2L)
    assert(m2.blooms.keys.exists(_._2 == "k"))
    assert(Snapshots.readVersionKeys(spark, dir, "k", Seq(205L)).count() === 1L)
  }

  test("UPDATE and MERGE payloads may widen; key widening via MERGE refused on bucketed") {
    val dir = graft.TempDirs.create("widen-dml")
    Snapshots.commit(intFrame(0 until 30), dir, "overwrite")
    // an UPDATE whose SET produces a wider type widens the schema
    Snapshots.updateWhere(spark, dir, col("k") % 10 === 3,
      Map("x" -> (col("x").cast("double") + lit(0.25))))
    val m = Snapshots.readManifest(spark, dir, 1L)
    assert(m.schema("x").dataType === DoubleType)
    val want = intFrame(0 until 30)
      .withColumn("x", when(col("k") % 10 === 3,
        col("x").cast("double") + 0.25).otherwise(col("x").cast("double")))
      .select(col("k").cast("long"), col("x"), col("d").cast("decimal(16,4)"))
    val got = Snapshots.readVersion(spark, dir)
      .select(col("k").cast("long"), col("x"), col("d").cast("decimal(16,4)"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // a MERGE change batch with a widened payload column works too
    val s = spark
    import s.implicits._
    val changes = Seq((5, 123.5, BigDecimal("5.00"), "U"))
      .toDF("k", "x", "d", "op")
      .select(col("k").cast("int"), col("x").cast("double"),
        col("d").cast("decimal(12,2)"), col("op"))
    Snapshots.mergeOnRead(spark, dir, changes, "k")
    assert(Snapshots.readVersion(spark, dir)
      .filter(col("k") === 5).head().getDouble(1) === 123.5)
  }
}
