package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The one file-pruning verdict ([[Snapshots.compileVerdict]]) as a
  * property: over a random table with footer stats, a bucket key, a
  * bloom column, null counts, a decimal column, a renamed column and a
  * metadata checkpoint plus a tail, random conjunctions of key, range
  * and null conjuncts keep the SAME files on the manifest path (logical
  * names, on the driver) and the checkpoint path (physical names, in
  * the planning walk), and never drop a file holding a matching row.
  */
class PruneVerdictSpec extends SparkSpec {
  import Snapshots.Prune._

  test("manifest and checkpoint verdicts agree and keep every file " +
    "holding a matching row") {
    val s = spark
    import s.implicits._
    val dir = graft.TempDirs.create("graft-verdict-prop")
    val rnd = new scala.util.Random(20261020L)
    // batch 1's v is all NULL, batch 2's has none, the others mix
    def batch(i: Int) = (0 until 40).map { _ =>
      val v = if (i == 1 || (i != 2 && rnd.nextInt(3) == 0)) None
        else Some(i * 10L + rnd.nextInt(10))
      (i * 100L + rnd.nextInt(100), s"t${i}_${rnd.nextInt(8)}", v,
        BigDecimal(i * 1000L + rnd.nextInt(500), 2))
    }.toDF("id", "tag", "v", "d").withColumn("d", col("d").cast("decimal(10,2)"))
    (0 until 3).foreach { i =>
      Snapshots.commit(batch(i), dir, if (i == 0) "overwrite" else "append",
        statsColumns = Seq("id", "tag", "v", "d"), bucketBy = Some(("id", 4)),
        bloomColumns = Seq("tag"))
    }
    // logical "label" reads physical "tag": the two paths name it apart
    Snapshots.renameColumn(spark, dir, "tag", "label")
    Snapshots.writeMetadataCheckpoint(spark, dir)
    Snapshots.commit(batch(3).withColumnRenamed("tag", "label").coalesce(2),
      dir, "append", statsColumns = Seq("id", "label", "v", "d"),
      bloomColumns = Seq("label"))
    val ver = Snapshots.latestVersion(spark, dir).get
    val base = Snapshots.parseManifest(spark, dir, ver)
    val m = Snapshots.readManifest(spark, dir, ver)
    val cover = Snapshots.coverOf(spark, dir, ver)
    assert(cover.dir.isDefined && cover.covered.size < base.segRefs.size,
      "the fixture must plan over a checkpoint plus a tail")
    assert(m.colMap.get("label").contains("tag"))
    // every row with its file, on the driver
    val cols = Seq("id", "label", "v", "d")
    val data: Seq[(String, Row)] = Snapshots.readVersion(spark, dir)
      .select((cols.map(col) :+ input_file_name()): _*).collect().toSeq
      .map(r => m.files.find(r.getString(4).endsWith(_)).get -> r)
    def value(r: Row, c: String): Any = r.get(cols.indexOf(c))
    val pools: Map[String, IndexedSeq[Any]] = cols.map { c =>
      c -> (data.flatMap(x => Option(value(x._2, c))).distinct.toIndexedSeq ++
        (c match {
          case "id" => Seq(-1L, 250L, 999L)
          case "label" => Seq("a", "t1_35", "zz")
          case "v" => Seq(-5L, 15L, 99L)
          case _ => Seq(new java.math.BigDecimal("0.07"),
            new java.math.BigDecimal("12.345"))
        }))
    }.toMap
    def draw(c: String): Any = pools(c)(rnd.nextInt(pools(c).size))
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => x.compare(y)
      case (x: String, y: String) => x.compareTo(y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
      case _ => fail(s"incomparable $a, $b")
    }
    def conjunct(): Conjunct = {
      val c = cols(rnd.nextInt(cols.size))
      rnd.nextInt(4) match {
        case 0 => KeyIn(c, Seq.fill(1 + rnd.nextInt(3))(draw(c)))
        case 1 =>
          val Seq(lo, hi) = Seq(draw(c), draw(c)).sortWith(cmp(_, _) < 0)
          Range(c, Some(lo).filter(_ => rnd.nextBoolean()),
            Some(hi).filter(_ => rnd.nextBoolean()))
        case 2 => IsNull(c)
        case _ => NotNull(c)
      }
    }
    def holds(c: Conjunct, r: Row): Boolean = c match {
      case KeyIn(x, keys) =>
        value(r, x) != null && keys.exists(cmp(value(r, x), _) == 0)
      case Range(x, lo, hi) => value(r, x) != null &&
        lo.forall(cmp(value(r, x), _) >= 0) && hi.forall(cmp(value(r, x), _) <= 0)
      case IsNull(x) => value(r, x) == null
      case NotNull(x) => value(r, x) != null
      case other => fail(s"unexpected $other")
    }
    def kept(conj: Seq[Conjunct]): Seq[String] = {
      val viaManifest = Snapshots.prunedFiles(Some(spark), m, conj, m.files).sorted
      val viaCkpt = Snapshots.liveEntriesUnder(spark, dir, base, cover, conj)
        .map(_.file).sorted
      assert(viaCkpt === viaManifest, conj)
      val matching = data.collect { case (f, r) if conj.forall(holds(_, r)) => f }
      assert(matching.toSet.subsetOf(viaManifest.toSet),
        s"$conj dropped ${matching.toSet -- viaManifest}")
      viaManifest
    }
    // each primitive prunes on its own: the bloom (an absent label inside
    // batch 1's stat ranges), the bucket key, decimal equality, and the
    // null counts of the all-NULL and the NULL-free batch
    val batchOf: Map[String, Long] = data.map { case (f, r) =>
      f -> value(r, "id").asInstanceOf[Long] / 100 }.toMap
    assert(kept(Seq(KeyIn("label", Seq("t1_35")))).isEmpty)
    val id1 = data.map(x => value(x._2, "id"))
      .find(_.asInstanceOf[Long] / 100 == 1).get
    val byId = kept(Seq(KeyIn("id", Seq(id1))))
    assert(byId.nonEmpty && byId.forall(batchOf(_) == 1L) &&
      byId.size < m.files.count(batchOf(_) == 1L))
    val d0 = value(data.head._2, "d")
    assert(kept(Seq(KeyIn("d", Seq(d0)))).size < m.files.size)
    assert(!kept(Seq(NotNull("v"))).exists(batchOf(_) == 1L))
    assert(!kept(Seq(IsNull("v"))).exists(batchOf(_) == 2L))
    // random conjunctions, the last third under a two-key probe budget
    // (key checks degrade to bucket ids on both paths alike)
    var pruning = 0
    try (1 to 120).foreach { t =>
      if (t == 81) spark.conf.set("graft.probe.maxKeys", "2")
      val conj = Seq.fill(1 + rnd.nextInt(3))(conjunct())
      if (kept(conj).size < m.files.size) pruning += 1
    } finally spark.conf.unset("graft.probe.maxKeys")
    assert(pruning > 30, s"only $pruning of 120 conjunctions pruned a file")
  }
}
