package graft.plans

import graft.SparkSpec
import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** SQL row-level DML over `USING graft` views: DELETE / UPDATE /
  * MERGE INTO statements must behave exactly like the Scala snapshot
  * API calls they route to, with no Scala API in the loop.
  */
class SqlDmlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshOrders(tag: String): String = {
    val dir = graft.TempDirs.create(tag)
    Snapshots.commit(graft.Tables.orders(spark, sf), dir, "overwrite",
      statsColumns = Seq("o_orderkey"))
    dir
  }

  private def view(name: String, dir: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name " +
      s"USING graft OPTIONS (path '$dir')")

  test("DELETE FROM masks rows via deletion vectors, one commit") {
    val dir = freshOrders("sqldml-del")
    view("dml_del", dir)
    val before = spark.table("dml_del").count()
    val f = spark.table("dml_del").filter(col("o_orderstatus") === "F").count()
    spark.sql("DELETE FROM dml_del WHERE o_orderstatus = 'F'")
    view("dml_del", dir) // fresh view resolves the new latest
    assert(spark.table("dml_del").count() === before - f)
    assert(spark.table("dml_del")
      .filter(col("o_orderstatus") === "F").count() === 0L)
    // DV mask, not a rewrite: v1 exists, data files unchanged at v0
    assert(Snapshots.latestVersion(spark, dir).get === 1L)
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .count() === before)
  }

  test("UPDATE SET applies expressions, casts literals, honors WHERE") {
    val dir = freshOrders("sqldml-upd")
    view("dml_upd", dir)
    val expected = spark.table("dml_upd")
      .withColumn("o_totalprice",
        when(col("o_orderstatus") === "F", col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")))
      .groupBy("o_orderstatus")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("t"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    spark.sql(
      "UPDATE dml_upd SET o_totalprice = o_totalprice + 100 " +
        "WHERE o_orderstatus = 'F'")
    view("dml_upd", dir)
    val got = spark.table("dml_upd")
      .groupBy("o_orderstatus")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("t"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("MERGE INTO: UPDATE/DELETE/INSERT actions in one atomic commit") {
    val dir = freshOrders("sqldml-merge")
    view("dml_m", dir)
    val base = spark.table("dml_m")
    // source: updates for %10=1 (price +7), deletes for %10=2,
    // inserts re-keyed high
    base.filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey").as("k"), lit("upd").as("what"),
        (col("o_totalprice") + 7).as("newprice"))
      .unionByName(
        base.filter(col("o_orderkey") % 10 === 2)
          .select(col("o_orderkey").as("k"), lit("del").as("what"),
            lit(0.0).as("newprice")))
      .unionByName(
        base.filter(col("o_orderkey") % 10 === 3)
          .select((col("o_orderkey") + 900000000L).as("k"),
            lit("ins").as("what"), col("o_totalprice").as("newprice")))
      .createOrReplaceTempView("dml_src")
    spark.sql(
      """MERGE INTO dml_m t USING dml_src s ON t.o_orderkey = s.k
        |WHEN MATCHED AND s.what = 'del' THEN DELETE
        |WHEN MATCHED AND s.what = 'upd' THEN UPDATE SET o_totalprice = s.newprice
        |WHEN NOT MATCHED AND s.what = 'ins' THEN INSERT
        |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |   o_orderpriority)
        |  VALUES (s.k, CAST(1 AS BIGINT), 'N', s.newprice, DATE'2026-01-01',
        |   'MERGED')""".stripMargin)
    view("dml_m", dir)
    val after = spark.table("dml_m")
    val expected = base
      .filter(col("o_orderkey") % 10 =!= 2)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 1, col("o_totalprice") + 7)
          .otherwise(col("o_totalprice")))
    val nIns = base.filter(col("o_orderkey") % 10 === 3).count()
    assert(after.count() === expected.count() + nIns)
    // updated + untouched rows match exactly
    assert(after.filter(col("o_orderkey") < 900000000L)
      .exceptAll(expected).isEmpty)
    assert(expected.exceptAll(
      after.filter(col("o_orderkey") < 900000000L)).isEmpty)
    // inserts carry the action's literals
    val ins = after.filter(col("o_orderkey") >= 900000000L)
    assert(ins.count() === nIns)
    assert(ins.filter(col("o_orderpriority") =!= "MERGED").count() === 0L)
    // single atomic commit for the whole statement
    assert(Snapshots.latestVersion(spark, dir).get === 1L)
  }

  test("MERGE with UPDATE SET * takes all payload columns from source") {
    val dir = freshOrders("sqldml-star")
    view("dml_star", dir)
    val base = spark.table("dml_star")
    base.filter(col("o_orderkey") % 10 === 4)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("dml_star_src")
    spark.sql(
      """MERGE INTO dml_star t USING dml_star_src s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    view("dml_star", dir)
    val doubled = spark.table("dml_star")
      .filter(col("o_orderkey") % 10 === 4)
    val want = base.filter(col("o_orderkey") % 10 === 4)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    assert(doubled.exceptAll(want).isEmpty && want.exceptAll(doubled).isEmpty)
  }

  test("MERGE cardinality violation and unsupported shapes are refused") {
    val dir = freshOrders("sqldml-guard")
    view("dml_g", dir)
    // two source rows for one key, both matching the UPDATE action
    spark.sql("SELECT CAST(1 AS BIGINT) AS k UNION ALL SELECT CAST(1 AS BIGINT)")
      .createOrReplaceTempView("dml_g_dup")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO dml_g t USING dml_g_dup s ON t.o_orderkey = s.k
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("more than one change"))
    // refused cardinality burns no version
    assert(Snapshots.latestVersion(spark, dir).get === 0L)
    // an ON with no target=source column equality has no merge key
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO dml_g t USING dml_g_dup s ON t.o_orderkey > s.k
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e2.getMessage.contains("equality in ON"))
  }

  test("small-batch MERGE payload join scans only key-range-overlapping files") {
    val dir = graft.TempDirs.create("sqldml-prune")
    Snapshots.commit(
      graft.Tables.orders(spark, sf).repartitionByRange(8, col("o_orderkey")),
      dir, "overwrite", statsColumns = Seq("o_orderkey"))
    view("dml_p", dir)
    val want = spark.table("dml_p")
      .filter(col("o_orderkey").between(10L, 40L)).count()
    assert(want > 0)
    spark.sql("SELECT CAST(id AS BIGINT) AS k FROM RANGE(10, 41)")
      .createOrReplaceTempView("dml_p_src")
    spark.sql(
      """MERGE INTO dml_p t USING dml_p_src s ON t.o_orderkey = s.k
        |WHEN MATCHED THEN UPDATE SET o_totalprice = CAST(123 AS DOUBLE)""".stripMargin)
    // the payload join's target scan was PRUNED to the files whose
    // o_orderkey range overlaps [10, 40] — not the whole table (the
    // same narrowing mergeOnRead's mask scan gets)
    val (chosen, total) = GraftSqlDml.lastMergePayloadFiles.get
    assert(total >= 8, s"seed should span >= 8 files, had $total")
    assert(chosen < total, s"payload scan read all $total files")
    view("dml_p", dir)
    assert(spark.table("dml_p")
      .filter(col("o_orderkey").between(10L, 40L) &&
        col("o_totalprice") === 123.0).count() === want)
    assert(spark.table("dml_p")
      .filter(col("o_totalprice") === 123.0).count() === want)
  }

  test("WHEN NOT MATCHED BY SOURCE: one-statement snapshot sync") {
    val dir = freshOrders("sqldml-sync")
    view("dml_s", dir)
    val base = spark.table("dml_s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    base.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice") + 1).as("p"))
      .unionByName(spark.sql(
        "SELECT CAST(7700000001 AS BIGINT) AS k, CAST(55 AS DOUBLE) AS p"))
      .createOrReplaceTempView("dml_s_src")
    spark.sql(
      """MERGE INTO dml_s t USING dml_s_src s ON t.o_orderkey = s.k
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
        |WHEN NOT MATCHED THEN INSERT
        |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |   o_orderpriority)
        |  VALUES (s.k, CAST(1 AS BIGINT), 'N', s.p, DATE'2026-01-01', 'SYNC')
        |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'P'
        |  THEN UPDATE SET o_orderpriority = 'STALE'
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    view("dml_s", dir)
    val after = spark.table("dml_s")
    val pick = Seq("o_orderkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority").map(col)
    val expected = base.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1)
      .unionByName(base.filter(col("o_orderkey") % 3 =!= 0 &&
          col("o_orderstatus") === "P")
        .withColumn("o_orderpriority", lit("STALE")))
      .select(pick: _*)
      .unionByName(spark.sql(
        """SELECT CAST(7700000001 AS BIGINT) AS o_orderkey,
          |'N' AS o_orderstatus, CAST(55 AS DOUBLE) AS o_totalprice,
          |'SYNC' AS o_orderpriority""".stripMargin))
    val got = after.select(pick: _*)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // the whole statement — upserts, stale-marking, delete-absent —
    // was ONE atomic commit
    assert(Snapshots.latestVersion(spark, dir).get === 1L)
    base.unpersist(false)
  }

  test("multiple conditional matched actions: first match wins, statement order") {
    val dir = freshOrders("sqldml-multi")
    view("dml_mm", dir)
    val base = spark.table("dml_mm")
    base.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k"),
        (col("o_orderkey") % 4 === 0).cast("int").as("flag"))
      .createOrReplaceTempView("dml_mm_src")
    spark.sql(
      """MERGE INTO dml_mm t USING dml_mm_src s ON t.o_orderkey = s.k
        |WHEN MATCHED AND t.o_totalprice > 150000 THEN DELETE
        |WHEN MATCHED AND s.flag = 1 THEN UPDATE SET o_orderpriority = 'FLAG'
        |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'PLAIN'""".stripMargin)
    view("dml_mm", dir)
    val after = spark.table("dml_mm")
    val pick = Seq("o_orderkey", "o_totalprice", "o_orderpriority").map(col)
    val expected = base
      .filter(!(col("o_orderkey") % 2 === 0 && col("o_totalprice") > 150000))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 2 =!= 0, col("o_orderpriority"))
          .when(col("o_orderkey") % 4 === 0, lit("FLAG"))
          .otherwise(lit("PLAIN")))
      .select(pick: _*)
    val got = after.select(pick: _*)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("extra ON conjuncts fold into the match condition") {
    val dir = freshOrders("sqldml-onx")
    view("dml_x", dir)
    val base = spark.table("dml_x")
    base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").as("k"),
        lit(100000.0).as("minp"))
      .createOrReplaceTempView("dml_x_src")
    // ON = key equality AND a target-range AND a target-status guard:
    // a key-joined pair failing the guards is NOT matched
    spark.sql(
      """MERGE INTO dml_x t USING dml_x_src s
        |ON t.o_orderkey = s.k AND t.o_totalprice >= s.minp
        |  AND t.o_orderstatus <> 'F'
        |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'HIT'""".stripMargin)
    view("dml_x", dir)
    val after = spark.table("dml_x")
    val hits = after.filter(col("o_orderpriority") === "HIT")
    val wantHits = base.filter(col("o_orderkey") % 5 === 0 &&
      col("o_totalprice") >= 100000.0 && col("o_orderstatus") =!= "F")
    assert(hits.count() === wantHits.count() && wantHits.count() > 0)
    // everything else untouched
    assert(after.count() === base.count())
    val untouchedWant = base.join(wantHits.select("o_orderkey"),
      Seq("o_orderkey"), "left_anti")
    val untouchedGot = after.filter(col("o_orderpriority") =!= "HIT")
    assert(untouchedGot.exceptAll(untouchedWant).isEmpty &&
      untouchedWant.exceptAll(untouchedGot).isEmpty)
  }

  test("a NULL extra ON conjunct means NOT matched (two-valued MERGE semantics)") {
    val dir = graft.TempDirs.create("sqldml-nullon")
    val s = spark
    import s.implicits._
    Snapshots.commit(Seq((1L, "a", 10.0), (2L, null, 20.0))
      .toDF("k", "flag", "price"), dir, "overwrite")
    view("dml_no", dir)
    Seq((1L, "a", 100.0), (2L, "b", 200.0), (3L, "c", 300.0))
      .toDF("k", "flag", "p").createOrReplaceTempView("dml_no_src")
    // target row 2 has flag NULL: the extra conjunct is NULL, so the
    // pair is NOT matched — SQL routes the source row to the INSERT
    // branch (a naive three-valued guard would silently skip it)
    spark.sql(
      """MERGE INTO dml_no t USING dml_no_src s
        |ON t.k = s.k AND t.flag = s.flag
        |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin)
    view("dml_no", dir)
    // matched (1): updated. NULL-flag (2): untouched (no insert action
    // here — but crucially not dropped/skipped into a wrong branch)
    assert(spark.table("dml_no").collect().map(r =>
      (r.getLong(0), r.getDouble(2))).sorted === Seq((1L, 100.0), (2L, 20.0)))
    // with an INSERT action the not-matched source rows (NULL-flag
    // pair included) land as new rows — key 2 upserts per the layer's
    // key-unique contract, key 3 is plain-new
    spark.sql(
      """MERGE INTO dml_no t USING dml_no_src s
        |ON t.k = s.k AND t.flag = s.flag
        |WHEN MATCHED THEN UPDATE SET price = s.p
        |WHEN NOT MATCHED THEN INSERT (k, flag, price) VALUES (s.k, s.flag, s.p)""".stripMargin)
    view("dml_no", dir)
    assert(spark.table("dml_no").collect().map(r =>
      (r.getLong(0), r.getDouble(2))).sorted ===
      Seq((1L, 100.0), (2L, 200.0), (3L, 300.0)))
  }

  test("MERGE with only WHEN NOT MATCHED BY SOURCE clauses (delete-absent)") {
    val dir = freshOrders("sqldml-nmbs")
    view("dml_only", dir)
    val base = spark.table("dml_only")
    base.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("k")).createOrReplaceTempView("dml_only_src")
    // the pure retention statement: keep only what the source lists
    spark.sql(
      """MERGE INTO dml_only t USING dml_only_src s ON t.o_orderkey = s.k
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    view("dml_only", dir)
    val got = spark.table("dml_only")
    val want = base.filter(col("o_orderkey") % 2 === 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(Snapshots.latestVersion(spark, dir).get === 1L)
  }

  test("UPDATE/DELETE with no matches leaves the table version untouched") {
    val dir = freshOrders("sqldml-nomatch")
    view("dml_n", dir)
    spark.sql("DELETE FROM dml_n WHERE o_orderkey < 0")
    spark.sql("UPDATE dml_n SET o_totalprice = 0 WHERE o_orderkey < 0")
    assert(Snapshots.latestVersion(spark, dir).get === 0L)
  }

  test("DML predicate hints carry decimal EQUALITY literals (pruned via " +
    "the unscaled decode) but never decimal RANGE bounds") {
    import org.apache.spark.sql.graftbridge.Bridge
    val s = spark
    import s.implicits._
    // hint extraction: '='/'in' pass decimals through (as
    // java.math.BigDecimal — the shape statMayContain decodes),
    // '>='/'<=' drop them (mayGe/mayLe compare raw values against
    // unscaled footer ints)
    // bare decimal literals — the shape `WHERE amt = 150.00` resolves
    // to (a typed Decimal Literal; a cast-wrapped literal is a
    // different node and correctly yields no hint)
    val amt = col("amt")
    val eqHints = Bridge.prunableConjuncts(amt === lit(BigDecimal("150.00")))
    assert(eqHints.exists { case (op, c, vs) =>
      op == "=" && c == "amt" && vs.forall {
        case _: java.math.BigDecimal | _: scala.math.BigDecimal => true
        case _ => false
      } // either flavor — statMayContain decodes both
    }, s"decimal equality must hint: $eqHints")
    assert(Bridge.prunableConjuncts(
      amt >= lit(BigDecimal("150.00"))).isEmpty,
      "decimal range bounds must not hint")
    // end to end: DELETE by decimal equality on a decimal-stats table
    // masks exactly the matching row (pruning is a scan reducer, the
    // semantics stay exact)
    val dir = graft.TempDirs.create("sqldml-decimal")
    Snapshots.commit((0 until 300).map(i => (i.toLong, BigDecimal(i).toString))
        .toDF("id", "amt0")
        .select(col("id"), col("amt0").cast("decimal(9,2)").as("amt"))
        .repartition(3),
      dir, "overwrite", statsColumns = Seq("amt"))
    view("dml_dec", dir)
    spark.sql("DELETE FROM dml_dec WHERE amt = 150.00")
    val left = Snapshots.readVersion(spark, dir)
    assert(left.count() === 299L)
    assert(left.where(col("amt") === lit(BigDecimal("150.00"))
      .cast("decimal(9,2)")).count() === 0L)
  }

  test("SQL DELETE on a bloom-indexed DATE column masks exactly the " +
    "matching rows") {
    val s = spark
    import s.implicits._
    val dir = graft.TempDirs.create("sqldml-datebloom")
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    Snapshots.commit((0 until 64).map { i =>
        (i.toLong, java.sql.Date.valueOf(day0.plusDays(i)))
      }.toDF("id", "e").repartition(4), dir, "overwrite",
      bloomColumns = Seq("e"))
    view("dml_dbl", dir)
    // SQL literals reach the DML candidate planner as catalyst values
    // (a date is its day count); its bloom probes must hash the date
    spark.sql("DELETE FROM dml_dbl WHERE e = DATE '2024-01-15'")
    view("dml_dbl", dir)
    spark.sql("DELETE FROM dml_dbl WHERE e IN (DATE '2024-02-20', DATE '2024-03-01')")
    val left = Snapshots.readVersion(spark, dir).select("id").as[Long]
      .collect().toSet
    assert(left === (0L until 64L).toSet -- Set(14L, 50L, 60L))
  }

  test("bloom probes on a TIMESTAMP column hash the instant, not the JVM " +
    "zone's wall time: lookups, deleteWhere and SQL DELETE in a session " +
    "zone apart from the JVM's") {
    val s = spark
    import s.implicits._
    val dir = graft.TempDirs.create("sqldml-tsbloom")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def at(i: Int) = java.sql.Timestamp.from(t0.plusSeconds(3600L * i))
    Snapshots.commit((0 until 64).map(i => (i.toLong, at(i)))
      .toDF("id", "t").repartition(4), dir, "overwrite",
      bloomColumns = Seq("t"))
    val zone = Seq("America/Los_Angeles", "Asia/Tokyo")
      .find(_ != java.util.TimeZone.getDefault.getID).get
    val saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try {
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("id").as[Long].collect().toSet
      assert(ids(Snapshots.readVersionKeys(spark, dir, "t", Seq(at(5)))) ===
        Set(5L))
      assert(ids(spark.read.format("graft").load(dir)
        .where(col("t") === lit(at(6)))) === Set(6L))
      Snapshots.deleteWhere(spark, dir, col("t") === lit(at(14)))
      view("dml_tsbl", dir)
      // 2024-01-02 10:00 UTC as wall time in the session zone
      val wall = java.time.LocalDateTime.ofInstant(
        at(34).toInstant, java.time.ZoneId.of(zone))
        .toString.replace('T', ' ')
      spark.sql(s"DELETE FROM dml_tsbl WHERE t = TIMESTAMP '$wall'")
      assert(ids(Snapshots.readVersion(spark, dir)) ===
        (0L until 64L).toSet -- Set(14L, 34L))
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }
}
