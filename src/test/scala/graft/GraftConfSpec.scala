package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions.col

/** A malformed numeric or boolean `graft.*` setting fails on the path
  * that reads it with an error naming the key — never a bare parse
  * error, never a silent fallback to the default.
  */
class GraftConfSpec extends SparkSpec {

  private def frame(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
  }

  /** Run `body` with `key` set to "x" and assert it refuses naming
    * the key.
    */
  private def refusesNaming(key: String)(body: => Any): Unit = {
    spark.conf.set(key, "x")
    val e = try intercept[IllegalArgumentException](body)
    finally spark.conf.unset(key)
    assert(e.getMessage.contains(key), s"error must name $key: ${e.getMessage}")
  }

  test("every numeric graft.* key refuses a malformed value naming the key") {
    val dir = TempDirs.create("graft-conf")
    Snapshots.commit(frame(40).coalesce(1), dir, "overwrite",
      statsColumns = Seq("id"))
    // read before the publish: the commit is refused, nothing lands
    refusesNaming("graft.checkpoint.autoEvery") {
      Snapshots.commit(frame(5), dir, "append")
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(0L))
    refusesNaming("graft.dv.maxRowsPerFile") {
      Snapshots.deleteWhere(spark, dir, col("id") === 1L)
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(0L))
    refusesNaming("graft.probe.maxKeys") {
      Snapshots.readVersionKeys(spark, dir, "id", Seq(1L))
    }
    // the masked read path checks both purge-warning thresholds
    Snapshots.deleteWhere(spark, dir, col("id") === 1L)
    refusesNaming("graft.dv.purgeWarnMinRows") {
      Snapshots.readVersion(spark, dir)
    }
    refusesNaming("graft.dv.purgeWarnRatio") {
      Snapshots.readVersion(spark, dir)
    }
    refusesNaming("graft.txn.feedGraceMs") {
      val s = spark
      import s.implicits._
      Snapshots.changeFeedBatches(dir)((_, _, _) => ())(
        Seq(0L).toDF("version"), 0L)
    }
    val bucketed = TempDirs.create("graft-conf-bucketed")
    Snapshots.commit(frame(40), bucketed, "overwrite",
      bucketBy = Some(("id", 4)))
    refusesNaming("graft.aligned.splitBucketBytes") {
      Snapshots.bucketAlignedAggregate(spark, bucketed,
        Seq(("count", "*", "n"))).collect()
    }
    refusesNaming("graft.shingle.partitionsPerCore") {
      graft.operators.Dedup.ngramJaccardDocs(
        frame(3).withColumnRenamed("id", "doc_id")
          .withColumnRenamed("tag", "text"))
    }
    refusesNaming("graft.spj.buildBytesMax") {
      Snapshots.bucketAlignedJoin(spark, bucketed, bucketed, "id", "id")
    }
    // the SQL MERGE command reads its source-size warning threshold
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW conf_merge " +
      s"USING graft OPTIONS (path '$dir')")
    frame(3).createOrReplaceTempView("conf_merge_src")
    refusesNaming("spark.graft.merge.sourceWarnBytes") {
      spark.sql("MERGE INTO conf_merge t USING conf_merge_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET tag = s.tag")
    }
    assert(Snapshots.latestVersion(spark, dir) === Some(1L))
    // the aligned rewrites and the ledger-stats rule read their switch
    // while optimizing a query over a graft relation
    Seq("graft.sql.alignedJoin.enabled", "graft.sql.alignedJoinAgg.enabled",
        "graft.sql.alignedRunning.enabled", "graft.sql.alignedAgg.enabled",
        "graft.stats.histograms").foreach { key =>
      refusesNaming(key) {
        spark.read.format("graft").load(bucketed)
          .groupBy("id").count().collect()
      }
    }
    val catKeys = Seq("spark.sql.catalog.confcat",
      "spark.sql.catalog.confcat.warehouse")
    try {
      spark.conf.set(catKeys(0), "graft.sources.GraftCatalog")
      spark.conf.set(catKeys(1), TempDirs.create("graft-conf-wh"))
      spark.sql("CREATE NAMESPACE IF NOT EXISTS confcat.db")
      spark.sql("CREATE TABLE confcat.db.t (id BIGINT) USING graft")
      refusesNaming("graft.procedure.maxRows") {
        spark.sql("CALL confcat.system.history('db.t')").collect()
      }
    } finally catKeys.foreach(spark.conf.unset)
  }

  test("a boolean graft.* key reads true or false in any case") {
    val key = "graft.stats.histograms"
    try {
      assert(GraftConf.bool(spark, key, default = true))
      spark.conf.set(key, " FALSE ")
      assert(!GraftConf.bool(spark, key, default = true))
      spark.conf.set(key, "True")
      assert(GraftConf.bool(spark, key, default = false))
    } finally spark.conf.unset(key)
  }

  test("a malformed SPARK_GRAFT_CPUS fails naming the variable and the value") {
    val name = "SPARK_GRAFT_CPUS"
    assert(GraftConf.envInt(name, 4, Map.empty) === 4)
    assert(GraftConf.envInt(name, 8, Map(name -> " 16 ")) === 16)
    val e = intercept[IllegalArgumentException](
      GraftConf.envInt(name, 4, Map(name -> "x")))
    assert(e.getMessage.contains(name) && e.getMessage.contains("'x'"), e.getMessage)
  }

  test("a malformed or non-positive SPARK_GRAFT_PASSES fails naming the variable") {
    val name = "SPARK_GRAFT_PASSES"
    assert(Bench.timedPasses(Map.empty) === 2)
    assert(Bench.timedPasses(Map(name -> "3")) === 3)
    val e = intercept[IllegalArgumentException](
      Bench.timedPasses(Map(name -> "two")))
    assert(e.getMessage.contains(name) && e.getMessage.contains("'two'"), e.getMessage)
    val zero = intercept[IllegalArgumentException](Bench.timedPasses(Map(name -> "0")))
    assert(zero.getMessage.contains(name), zero.getMessage)
  }

  test("a malformed SPARK_GRAFT_CODEGEN_CACHE fails naming the variable") {
    val name = "SPARK_GRAFT_CODEGEN_CACHE"
    assert(GraftSession.codegenCacheEntries(Map.empty) === 8000)
    assert(GraftSession.codegenCacheEntries(Map(name -> "12000")) === 12000)
    val e = intercept[IllegalArgumentException](
      GraftSession.codegenCacheEntries(Map(name -> "8k")))
    assert(e.getMessage.contains(name) && e.getMessage.contains("'8k'"), e.getMessage)
  }

  test("Tables.load serves the schema of a file rewritten at the same path") {
    val s = spark
    import s.implicits._
    val sf = TempDirs.create("graft-tables")
    val p = s"$sf/region.parquet"
    Seq((1L, "a")).toDF("r_regionkey", "r_name").coalesce(1)
      .write.mode("overwrite").parquet(p)
    assert(Tables.region(spark, sf).columns.toSeq === Seq("r_regionkey", "r_name"))
    // the rewrite lands with a later mtime; wait out coarse clocks
    Thread.sleep(1100)
    Seq((1L, "a", "c")).toDF("r_regionkey", "r_name", "r_comment").coalesce(1)
      .write.mode("overwrite").parquet(p)
    val again = Tables.region(spark, sf)
    assert(again.columns.toSeq === Seq("r_regionkey", "r_name", "r_comment"))
    assert(again.collect().head.getString(2) === "c")
  }
}
