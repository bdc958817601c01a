package graft.sources

import org.apache.spark.sql.SparkSession

/** Shared seed tables for the protocol demos (`u*` oracle entries).
  *
  * Most u-family demos open with the same step — commit the `orders`
  * table as snapshot v0 — and that seed write used to dominate their
  * cost (each demo re-wrote the full table from scratch). The seed is
  * read-only by construction, so it is built ONCE per JVM per sf dir
  * here, and every demo that mutates takes a [[Snapshots.cloneShallow]]
  * fork of it instead: an O(manifest) commit that borrows the data
  * files — the clone is v0 of a fresh private table, so each demo's
  * version arithmetic, CAS behavior, and isolation are EXACTLY what a
  * from-scratch seed gave, minus the repeated table write. (Demos
  * whose seed IS part of the protocol — bucketed/bloom/partitioned
  * layouts, sized files, txn seeding, SQL-only writes — keep their own
  * seeds.)
  */
object DemoFixtures {

  private val cache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The demos' shared `graft_demo` catalog, registered over ONE
    * warehouse per JVM (not per sf dir): Spark caches the catalog
    * INSTANCE by name per session, so a second sf dir in the same JVM
    * (ScaleSmoke's 1x vs Kx runs) would otherwise register a fresh
    * warehouse path that the cached instance silently ignores —
    * statements landing in one warehouse, witnesses reading another.
    * Demos stay idempotent by dropping + recreating their tables.
    */
  private def demoWarehouse(s: SparkSession): String = {
    val wh = cache.getOrElseUpdate("wh",
      graft.TempDirs.create("graft-wh-demo"))
    s.conf.set("spark.sql.catalog.graft_demo", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_demo.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_demo.db")
    wh
  }

  /** The orders table committed once (overwrite, `o_orderkey` footer
    * stats — a superset of what the plain seeds recorded; stats only
    * ever prune, never change results).
    */
  def seededOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"orders:$d", {
      val dir = graft.TempDirs.create("graft-fixture-orders")
      Snapshots.commit(graft.Tables.orders(s, d), dir, "overwrite",
        statsColumns = Seq("o_orderkey"))
      dir
    })

  /** A private mutable fork of [[seededOrders]]: clone-v0 ≡ the
    * from-scratch seed commit, at manifest cost.
    */
  def clonedOrders(s: SparkSession, d: String, tag: String): String = {
    val dir = graft.TempDirs.create(tag)
    Snapshots.cloneShallow(s, seededOrders(s, d), dir)
    dir
  }

  /** Orders hash-clustered on `o_orderkey` (16 buckets) — the shared
    * seed for the bucketed-layout demos (u21/u26), forked per demo
    * via clone (bucketSpec and mappings ride the clone).
    */
  def bucketedOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"bucketed:$d", {
      val dir = graft.TempDirs.create("graft-fixture-bucketed")
      Snapshots.commit(graft.Tables.orders(s, d), dir, "overwrite",
        bucketBy = Some(("o_orderkey", 16)))
      dir
    })

  /** A private mutable fork of [[bucketedOrders]]. */
  def clonedBucketedOrders(s: SparkSession, d: String, tag: String): String = {
    val dir = graft.TempDirs.create(tag)
    Snapshots.cloneShallow(s, bucketedOrders(s, d), dir)
    dir
  }

  /** Lineitem (key + the two measure columns the join demos roll up)
    * hash-clustered on `l_orderkey` (8 buckets) — the shared LEFT
    * side of the storage-partitioned-join demos (u51/u53). Both are
    * read-only joins, so they use the seed directly (no clone).
    */
  def bucketedLineitem8(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"bucketedLineitem8:$d", {
      val dir = graft.TempDirs.create("graft-fixture-spj-lineitem")
      Snapshots.commit(graft.Tables.lineitem(s, d)
          .select(org.apache.spark.sql.functions.col("l_orderkey"),
            org.apache.spark.sql.functions.col("l_quantity"),
            org.apache.spark.sql.functions.col("l_extendedprice")),
        dir, "overwrite", bucketBy = Some(("l_orderkey", 8)))
      dir
    })

  /** Orders as four residue-class bloom-indexed commits (u24's seed:
    * ingest locality, no stats, no clustering), forked via clone
    * (per-file blooms ride it).
    */
  def bloomOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"bloom:$d", {
      import org.apache.spark.sql.functions.col
      val dir = graft.TempDirs.create("graft-fixture-bloom")
      val orders = graft.Tables.orders(s, d)
      (0 until 4).foreach { r =>
        Snapshots.commit(orders.filter(col("o_orderkey") % 4 === r).coalesce(1),
          dir, if (r == 0) "overwrite" else "append",
          bloomColumns = Seq("o_orderkey"))
      }
      dir
    })

  /** A private mutable fork of [[bloomOrders]]. */
  def clonedBloomOrders(s: SparkSession, d: String, tag: String): String = {
    val dir = graft.TempDirs.create(tag)
    Snapshots.cloneShallow(s, bloomOrders(s, d), dir)
    dir
  }

  /** [[seededOrders]]' pattern generalized (r18): a READ-ONLY derived
    * seed table memoized per (tag, sf dir). Before this, the
    * aligned-family demos re-committed their bucketed/sorted seed
    * tables on EVERY invocation — at demo scale that seed write
    * dominated several entries' cost while demonstrating nothing (the
    * protocol each entry pins starts at the READ; the seed content is
    * a deterministic projection of the corpus). Entries that MUTATE
    * their table (u37/u52/u56, the DML family) or whose commits ARE
    * the demonstrated protocol (the incremental-arrival loops
    * d9/d10/sd2/s9/u5/u27, SQL DDL u40) keep building fresh — those
    * writes are the thing being measured.
    */
  private def cachedSeed(tag: String, d: String)(build: String => Unit)
      : String =
    cache.getOrElseUpdate(s"$tag:$d", {
      val dir = graft.TempDirs.create(tag)
      build(dir)
      dir
    })

  /** The partitioned demo table (u32/u33): orders partitioned by
    * `o_orderstatus` as v0 plus a re-keyed partitioned late append as
    * v1 — built once, consumed read-only by both demos.
    */
  def partitionedOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"part:$d", {
      import org.apache.spark.sql.functions.{col, lit}
      val dir = graft.TempDirs.create("graft-fixture-part")
      val orders = graft.Tables.orders(s, d)
      Snapshots.commit(orders, dir, "overwrite",
        partitionBy = Seq("o_orderstatus"))
      val late = orders.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
      Snapshots.commit(late, dir, "append",
        partitionBy = Seq("o_orderstatus"))
      dir
    })

  /** Demo + oracle entry (`u32_partitioned_table`): the reference's
    * core layout idiom (`k=v/` date dirs, `etl/ingest_logs.py:63-70`)
    * as a first-class graft-table concept. The fixture table holds
    * orders partitioned by `o_orderstatus` (v0) plus a partitioned
    * late append (v1). Leg 0 reads the latest with the partition
    * predicate pushed at the MANIFEST — the `only_matching_dirs`
    * witness pins (through the oracle) that every file the pruned
    * scan touches lives in a `o_orderstatus=O/` dir, i.e. partition
    * pruning happened ahead of the scan; legs 1 and 2 are the grouped
    * v0/latest states proving the layout is result-invisible across
    * time travel and appends. At 100 TB a day-partitioned table
    * answers a one-day predicate reading one dir, not the decade.
    */
  def u32PartitionedTable(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = partitionedOrders(s, d)
    val pruned = Snapshots.readVersionFiltered(s, dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("o_orderstatus", "O")))
    val onlyMatching =
      if (pruned.inputFiles.forall(_.contains("o_orderstatus=O"))) 1 else 0
    val leg0 = pruned.where(col("o_orderstatus") === "O")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select(lit(0).cast("int").as("leg"), lit("O").as("o_orderstatus"),
        col("n_orders"), col("total"))
    def grouped(v: Long, leg: Int) =
      Snapshots.readVersion(s, dir, Some(v))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(leg).cast("int").as("leg"), col("o_orderstatus"),
          col("n_orders"), col("total"))
    leg0.unionByName(grouped(0L, 1)).unionByName(grouped(1L, 2))
      .withColumn("only_matching_dirs", lit(onlyMatching).cast("int"))
      .orderBy("leg", "o_orderstatus")
  }

  /** Demo + oracle entry (`u34_catalog_table`): the persistent named
    * catalog end-to-end — a [[GraftCatalog]] registered over a
    * warehouse dir, the partitioned fixture FORKED into it as
    * `graft_demo.db.orders` (the registry IS the directory layout, so
    * a cloneShallow into the warehouse is a catalog table), then a
    * pure-SQL name-based lifecycle: SHOW TABLES discovery, INSERT
    * INTO by name (partitioned append through the declared spec),
    * DELETE FROM by name (DV mask through the DML rules), and the
    * final aggregate read by name. `n_versions` = 3 audits one atomic
    * commit per statement (clone v0 + insert + delete); `in_registry`
    * = 1 pins SHOW TABLES discovery. No path appears in any statement.
    */
  def u34CatalogTable(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.orders")
    Snapshots.cloneShallow(s, partitionedOrders(s, d), s"$wh/db/orders")
    val inRegistry =
      if (s.sql("SHOW TABLES IN graft_demo.db").collect()
          .exists(_.getString(1) == "orders")) 1 else 0
    s.sql(
      """INSERT INTO graft_demo.db.orders
        |SELECT o_orderkey + 3000000000, o_custkey, 'N', o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM graft_demo.db.orders WHERE o_orderkey % 10 = 5""".stripMargin)
    s.sql("DELETE FROM graft_demo.db.orders WHERE o_orderstatus = 'F'")
    val nVersions = Snapshots.latestVersion(s, s"$wh/db/orders").get + 1
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_demo.db.orders GROUP BY o_orderstatus""".stripMargin)
      .withColumn("n_versions", lit(nVersions).cast("int"))
      .withColumn("in_registry", lit(inRegistry).cast("int"))
      .orderBy(col("o_orderstatus"))
  }

  /** Demo + oracle entry (`u36_part_bucket`): partition dirs × hash
    * buckets COMPOSED on one table — the canonical 100 TB layout
    * (the reference's date dirs for time pruning × key buckets for
    * point lookups). Orders land partitioned by `o_orderstatus` with
    * 8 `o_orderkey` buckets per dir; leg 0 is the composed lookup
    * (status predicate ∧ key IN-list) whose `both_dims` witness pins
    * that the scan touched ONLY `o_orderstatus=O/` files AND fewer
    * files than that partition holds (bucket pruning engaged inside
    * the partition — 7 keys can hit at most 7 of its 8 bucket files);
    * leg 1 is the grouped v0 state; leg 2 re-groups after a DV delete
    * + [[Snapshots.purgeDeletes]], with `layout_kept` pinning that
    * maintenance preserved BOTH layout axes (partition dirs and the
    * bucket spec ride the purge rewrite). The oracle replays all
    * three legs relationally.
    */
  /** Orders partitioned by `o_orderstatus` × hash-bucketed on
    * `o_orderkey` (8 buckets) — the composed-layout seed, built ONCE
    * per JVM and forked per demo run via clone: the full-table
    * many-dir CTAS is the expensive half of the u36 protocol and its
    * bytes never change between runs.
    */
  def partBucketOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"partbucket:$d", {
      val dir = graft.TempDirs.create("graft-fixture-partbucket")
      Snapshots.commit(graft.Tables.orders(s, d), dir, "overwrite",
        partitionBy = Seq("o_orderstatus"),
        bucketBy = Some(("o_orderkey", 8)))
      dir
    })

  def u36PartBucket(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // private mutable fork of the cached fixture (clone-v0 ≡ the
    // from-scratch layout commit, at manifest cost)
    val dir = graft.TempDirs.create("graft-part-bucket")
    Snapshots.cloneShallow(s, partBucketOrders(s, d), dir)
    val keys: Seq[Any] = (1L to 7L).map(k => k: Any)
    val m0 = Snapshots.readManifest(s, dir, 0L)
    val nPartO = m0.files.count(_.contains("o_orderstatus=O"))
    val pruned = Snapshots.readVersionFiltered(s, dir, Some(0L), Seq(
      org.apache.spark.sql.sources.EqualTo("o_orderstatus", "O"),
      org.apache.spark.sql.sources.In("o_orderkey", keys.toArray)))
    val inputF = pruned.inputFiles
    val bothDims =
      if (inputF.forall(_.contains("o_orderstatus=O")) &&
        inputF.length < nPartO) 1 else 0
    val leg0 = pruned
      .where(col("o_orderstatus") === "O" &&
        col("o_orderkey").isin(keys: _*))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select(lit(0).cast("int").as("leg"), lit("O").as("o_orderstatus"),
        col("n_orders"), col("total"))
    def grouped(v: Option[Long], leg: Int) =
      Snapshots.readVersion(s, dir, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(leg).cast("int").as("leg"), col("o_orderstatus"),
          col("n_orders"), col("total"))
    val leg1 = grouped(Some(0L), 1)
    // maintenance must keep BOTH layout axes: mask a slice, purge it.
    // The mask is scoped to ONE partition so the purge rewrite is
    // O(that partition's buckets), not a full-table rewrite — the
    // 100 TB shape of a purge is per-partition, and the layout
    // witness doesn't need every file rewritten to prove itself.
    Snapshots.deleteWhere(s, dir,
      col("o_orderstatus") === "P" && col("o_orderkey") % 11 === 0)
    Snapshots.purgeDeletes(s, dir)
    val mP = Snapshots.readManifest(s, dir,
      Snapshots.latestVersion(s, dir).get)
    val layoutKept =
      if (mP.partitionCols == Seq("o_orderstatus") &&
        mP.bucketSpec.contains(("o_orderkey", 8)) &&
        mP.files.forall(_.contains("o_orderstatus="))) 1 else 0
    val leg2 = grouped(None, 2)
    leg0.unionByName(leg1).unionByName(leg2)
      .withColumn("both_dims", lit(bothDims).cast("int"))
      .withColumn("layout_kept", lit(layoutKept).cast("int"))
      .orderBy("leg", "o_orderstatus")
  }

  /** Demo + oracle entry (`u37_partition_evolution`): Iceberg-style
    * partition-spec evolution — orders land partitioned by
    * `o_orderstatus` (v0), then a late batch appends under a NEW spec
    * (`o_orderpriority`, v1): the manifest adopts the new layout
    * without rewriting a byte, and each file keeps pruning BY ITS OWN
    * recorded spec across the boundary (pruning is per-file stats,
    * not table spec). The `pruned_both` witness pins both directions:
    * a status predicate still prunes the v0 files to their
    * `o_orderstatus=O/` dirs (new-spec files conservatively kept),
    * and a priority predicate prunes the v1 files to their
    * `o_orderpriority=.../` dirs (old-spec files kept);
    * `spec_evolved` pins the manifest's current layout. Legs replay
    * the grouped v0/latest states relationally. At 100 TB a table's
    * re-layout is one metadata commit, not a rewrite.
    */
  def u37PartitionEvolution(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("graft-part-evo")
    val orders = graft.Tables.orders(s, d)
    Snapshots.commit(orders, dir, "overwrite",
      partitionBy = Seq("o_orderstatus"))
    val v0Files = Snapshots.readManifest(s, dir, 0L).files.toSet
    val late = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    Snapshots.commit(late, dir, "append",
      partitionBy = Seq("o_orderpriority"))
    val m1 = Snapshots.readManifest(s, dir, 1L)
    val specEvolved = if (m1.partitionCols == Seq("o_orderpriority")) 1 else 0
    // inputFiles returns URI-ENCODED paths (a space in a partition
    // value becomes %20) — decode before matching manifest rels
    def decoded(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.inputFiles.toSeq.map(f => java.net.URI.create(f).getPath)
    // old-spec predicate: v0 files prune to their status dirs, v1
    // files (no status stat) conservatively all stay
    val byStatus = decoded(Snapshots.readVersionFiltered(s, dir, None, Seq(
      org.apache.spark.sql.sources.EqualTo("o_orderstatus", "O"))))
    val newFiles = m1.files.filterNot(v0Files)
    val oldSideOk = byStatus.filter(f => v0Files.exists(f.endsWith))
      .forall(_.contains("o_orderstatus=O")) &&
      byStatus.count(f => v0Files.exists(f.endsWith)) < v0Files.size &&
      byStatus.count(f => newFiles.exists(f.endsWith)) == newFiles.size
    // new-spec predicate: v1 files prune to their priority dir, v0
    // files all stay
    val byPrio = decoded(Snapshots.readVersionFiltered(s, dir, None, Seq(
      org.apache.spark.sql.sources.EqualTo("o_orderpriority", "1-URGENT"))))
    val newSideOk = byPrio.filter(f => newFiles.exists(f.endsWith))
      .forall(_.contains("o_orderpriority=1-URGENT")) &&
      byPrio.count(f => newFiles.exists(f.endsWith)) < newFiles.size &&
      byPrio.count(f => v0Files.exists(f.endsWith)) == v0Files.size
    val prunedBoth = if (oldSideOk && newSideOk) 1 else 0
    def grouped(v: Option[Long], leg: Int) =
      Snapshots.readVersion(s, dir, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(leg).cast("int").as("leg"), col("o_orderstatus"),
          col("n_orders"), col("total"))
    grouped(Some(0L), 0).unionByName(grouped(None, 1))
      .withColumn("spec_evolved", lit(specEvolved).cast("int"))
      .withColumn("pruned_both", lit(prunedBoth).cast("int"))
      .orderBy("leg", "o_orderstatus")
  }

  /** Demo + oracle entry (`u38_sql_maintenance`): the SQL-only
    * maintenance loop — a catalog table grown by four INSERT commits
    * (small-file accretion, the streaming/CDC shape), a DV DELETE,
    * then `CALL graft_demo.system.compact_small(...)` (OPTIMIZE:
    * masks applied during the rewrite, file count drops) and
    * `CALL graft_demo.system.vacuum(...)` (history below the floor
    * expires) — no Scala maintenance API anywhere; Scala appears only
    * in the read-only witnesses. `compacted` pins the file-count
    * drop + mask consolidation, `vacuumed` pins that exactly the
    * latest version survived. The oracle replays the surviving
    * content relationally.
    */
  def u38SqlMaintenance(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.maint")
    graft.Tables.orders(s, d).createOrReplaceTempView("maint_src")
    s.sql("CREATE TABLE graft_demo.db.maint USING graft AS " +
      "SELECT * FROM maint_src WHERE o_orderkey % 4 = 0")
    (1 to 3).foreach(r => s.sql(
      s"INSERT INTO graft_demo.db.maint SELECT * FROM maint_src " +
        s"WHERE o_orderkey % 4 = $r"))
    s.sql("DELETE FROM graft_demo.db.maint WHERE o_orderkey % 13 = 0")
    val dir = s"$wh/db/maint"
    def manifest() = Snapshots.readManifest(s, dir,
      Snapshots.latestVersion(s, dir).get)
    val before = manifest()
    s.sql("CALL graft_demo.system.compact_small('db.maint', 104857600)")
    val after = manifest()
    val compacted =
      if (after.files.size < before.files.size && before.dvs.nonEmpty &&
        after.dvs.isEmpty) 1 else 0
    val latest = Snapshots.latestVersion(s, dir).get
    s.sql(s"CALL graft_demo.system.vacuum('db.maint', $latest)")
    val vacuumed =
      if (Snapshots.vacuumFloor(s, dir) == latest &&
        Snapshots.latestVersion(s, dir).contains(latest)) 1 else 0
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_demo.db.maint GROUP BY o_orderstatus""".stripMargin)
      .withColumn("compacted", lit(compacted).cast("int"))
      .withColumn("vacuumed", lit(vacuumed).cast("int"))
      .orderBy(col("o_orderstatus"))
  }

  /** Demo + oracle entry (`u40_sql_bucket_ddl`): the composed
    * partition × bucket layout declared from PURE SQL — `CREATE TABLE
    * ... USING graft PARTITIONED BY (o_orderstatus, bucket(8,
    * o_orderkey))` CTAS + `INSERT INTO` append, no Scala layout API
    * anywhere in the write loop (u36 demonstrates the same canonical
    * 100 TB layout through the Scala `commit(bucketBy)`; this closes
    * the SQL-only operator's path to it — Scala appears only in the
    * read-only witnesses). Leg 0 is the composed lookup (status
    * predicate ∧ key IN-list) whose `both_dims` witness pins that the
    * scan touched ONLY `o_orderstatus=O/` files AND fewer files than
    * that partition holds (bucket pruning engaged inside the
    * partition); leg 1 is the grouped CTAS state read by NAME; leg 2
    * re-groups after the INSERT, whose files must land clustered too
    * — `layout_declared` pins the manifest spec AND that every file
    * of both commits sits under both axes. The oracle replays all
    * three legs relationally.
    */
  def u40SqlBucketDdl(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.pb")
    graft.Tables.orders(s, d).createOrReplaceTempView("pb_src")
    s.sql(
      """CREATE TABLE graft_demo.db.pb USING graft
        |PARTITIONED BY (o_orderstatus, bucket(8, o_orderkey))
        |AS SELECT * FROM pb_src""".stripMargin)
    val dir = s"$wh/db/pb"
    def manifest() = Snapshots.readManifest(s, dir,
      Snapshots.latestVersion(s, dir).get)
    val mC = manifest()
    val keys: Seq[Any] = (1L to 7L).map(k => k: Any)
    val nPartO = mC.files.count(_.contains("o_orderstatus=O"))
    val pruned = Snapshots.readVersionFiltered(s, dir, Some(mC.version), Seq(
      org.apache.spark.sql.sources.EqualTo("o_orderstatus", "O"),
      org.apache.spark.sql.sources.In("o_orderkey", keys.toArray)))
    val inputF = pruned.inputFiles
    val bothDims =
      if (inputF.forall(_.contains("o_orderstatus=O")) &&
        inputF.length < nPartO) 1 else 0
    val leg0 = pruned
      .where(col("o_orderstatus") === "O" &&
        col("o_orderkey").isin(keys: _*))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .select(lit(0).cast("int").as("leg"), lit("O").as("o_orderstatus"),
        col("n_orders"), col("total"))
    def grouped(leg: Int) = s.sql(
      s"""SELECT CAST($leg AS INT) AS leg, o_orderstatus,
         |  COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM graft_demo.db.pb GROUP BY o_orderstatus""".stripMargin)
    val leg1 = grouped(1)
    // the append must land clustered on BOTH axes, straight from SQL
    s.sql(
      """INSERT INTO graft_demo.db.pb
        |SELECT o_orderkey + 6000000000, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate, o_orderpriority
        |FROM pb_src WHERE o_orderkey % 10 = 7""".stripMargin)
    val mA = manifest()
    val newFiles = mA.files.toSet -- mC.files.toSet
    val layoutDeclared =
      if (mA.bucketSpec.contains(("o_orderkey", 8)) &&
        mA.partitionCols == Seq("o_orderstatus") &&
        mA.files.forall(_.contains("o_orderstatus=")) &&
        newFiles.nonEmpty && newFiles.forall(mA.buckets.contains)) 1 else 0
    val leg2 = grouped(2)
    leg0.unionByName(leg1).unionByName(leg2)
      .withColumn("both_dims", lit(bothDims).cast("int"))
      .withColumn("layout_declared", lit(layoutDeclared).cast("int"))
      .orderBy("leg", "o_orderstatus")
  }

  /** Demo + oracle entry (`u41_column_mapping`): RENAME/DROP COLUMN
    * without rewriting a byte, from PURE SQL — a catalog table of
    * orders has `o_totalprice` RENAMED to `price` (an O(1) metadata
    * commit via column mapping: physical on-file names never change),
    * takes an UPDATE and an INSERT through the renamed schema, then
    * DROPS `o_orderpriority` (its physical name retires so the ghost
    * bytes can never resurface under a re-added column). The final
    * grouped read serves rows from files written BEFORE the rename
    * through the renamed logical schema — the values prove the
    * mapping; the `mapped` witness pins the manifest's colMap/retired
    * state AND that the two ALTERs moved no data (file set unchanged
    * across both metadata commits). The oracle replays the lifecycle
    * relationally.
    */
  def u41ColumnMapping(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.cmap")
    graft.Tables.orders(s, d).createOrReplaceTempView("cmap_src")
    s.sql("CREATE TABLE graft_demo.db.cmap USING graft AS " +
      "SELECT * FROM cmap_src")
    val dir = s"$wh/db/cmap"
    def manifest() = Snapshots.readManifest(s, dir,
      Snapshots.latestVersion(s, dir).get)
    val filesBefore = manifest().files.toSet
    s.sql("ALTER TABLE graft_demo.db.cmap RENAME COLUMN o_totalprice TO price")
    s.sql("ALTER TABLE graft_demo.db.cmap DROP COLUMN o_orderpriority")
    val mAfterAlters = manifest()
    val altersMovedNoData = mAfterAlters.files.toSet == filesBefore
    // DML + append THROUGH the renamed schema; the insert's files
    // write the physical names under the mapping
    s.sql("UPDATE graft_demo.db.cmap SET price = price + 100 " +
      "WHERE o_orderkey % 10 = 6")
    s.sql(
      """INSERT INTO graft_demo.db.cmap
        |SELECT o_orderkey + 7000000000, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate
        |FROM cmap_src WHERE o_orderkey % 10 = 2""".stripMargin)
    val mF = manifest()
    val mapped =
      if (altersMovedNoData &&
        mF.colMap == Map("price" -> "o_totalprice") &&
        mF.retiredCols == Seq("o_orderpriority") &&
        mF.schema.fieldNames.toSeq == Seq("o_orderkey", "o_custkey",
          "o_orderstatus", "price", "o_orderdate") &&
        filesBefore.subsetOf(mF.files.toSet)) 1 else 0
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_demo.db.cmap GROUP BY o_orderstatus""".stripMargin)
      .withColumn("mapped", lit(mapped).cast("int"))
      .orderBy(col("o_orderstatus"))
  }

  /** Demo + oracle entry (`u42_null_stats`): per-file NULL-count
    * stats driving `IS NULL` / `IS NOT NULL` file pruning — the
    * quality-filter shape ("rows still missing enrichment" /
    * "enriched rows only") that min/max stats can never answer.
    * Orders land partitioned by status with a `note` column that is
    * NULL exactly on the F rows, so F files are all-null and the rest
    * null-free; the `pruned_both` witness pins via `inputFiles` that
    * the `IS NOT NULL` scan touched NO F file and the `IS NULL` scan
    * ONLY F files — each strictly fewer files than the table. At
    * 100 TB, "what still needs enriching" reads the unenriched files,
    * not the corpus. The oracle replays both legs relationally.
    */
  def u42NullStats(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = cachedSeed("graft-null-stats", d) { dir =>
      val orders = graft.Tables.orders(s, d).withColumn("note",
        when(col("o_orderstatus") === "F", lit(null).cast("string"))
          .otherwise(concat(lit("n"), col("o_orderkey"))))
      Snapshots.commit(orders, dir, "overwrite",
        partitionBy = Seq("o_orderstatus"),
        statsColumns = Seq("o_orderkey", "note"))
    }
    val m = Snapshots.readManifest(s, dir, 0L)
    val notNull = Snapshots.readVersionFiltered(s, dir, Some(0L),
      Seq(org.apache.spark.sql.sources.IsNotNull("note")))
    val isNull = Snapshots.readVersionFiltered(s, dir, Some(0L),
      Seq(org.apache.spark.sql.sources.IsNull("note")))
    val nnF = notNull.inputFiles
    val nF = isNull.inputFiles
    val prunedBoth =
      if (nnF.forall(!_.contains("o_orderstatus=F")) &&
        nnF.length < m.files.size &&
        nF.forall(_.contains("o_orderstatus=F")) &&
        nF.length < m.files.size) 1 else 0
    def leg(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(name).as("leg"), col("n_orders"), col("total"))
    leg("is_null", isNull.where(col("note").isNull))
      .unionByName(leg("not_null", notNull.where(col("note").isNotNull)))
      .withColumn("pruned_both", lit(prunedBoth).cast("int"))
      .orderBy("leg")
  }

  /** Demo + oracle entry (`u43_hidden_partitioning`): Iceberg-style
    * transform partitioning from pure SQL — `PARTITIONED BY
    * (months(o_orderdate))` clusters the layout by a value DERIVED
    * from the timestamp while the derived column stays OUT of the
    * schema; a plain range predicate on o_orderdate prunes the scan
    * to the covered month dirs because the transform auto-records
    * tight footer min/max stats on the SOURCE column (see
    * [[PartitionTransforms]]). Witnesses: `pruned` pins the
    * inputFiles of a half-year range scan to the matching month dirs,
    * `layout_hidden` pins the manifest spec + every file in a month
    * dir + the derived name absent from the SQL-visible schema +
    * the INSERT INTO tail re-deriving the same layout. The 100 TB
    * shape: a decade of event-time dirs pruned by ordinary WHERE
    * clauses, with no partition column for writers to mis-populate.
    */
  def u43HiddenPartitioning(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.hp")
    graft.Tables.orders(s, d).createOrReplaceTempView("hp_src")
    // the demo table is a TWO-YEAR slice (24 month dirs) around the
    // witness range: the pruning/layout/tail witnesses need a
    // many-dir transform layout, not the full seven-year corpus —
    // both oracle legs filter INSIDE 1996, so the slice is
    // result-invisible (the tail INSERT carries the same bound)
    s.sql(
      """CREATE TABLE graft_demo.db.hp USING graft
        |PARTITIONED BY (months(o_orderdate))
        |AS SELECT * FROM hp_src
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
    val dir = s"$wh/db/hp"
    def manifest() = Snapshots.readManifest(s, dir,
      Snapshots.latestVersion(s, dir).get)
    val mC = manifest()
    // a source-column range scan touches only the covered month dirs
    // (boundary month included — midnight min equals the strict bound)
    val pruned0 = Snapshots.readVersionFiltered(s, dir, Some(mC.version), Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderdate",
        java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
      org.apache.spark.sql.sources.LessThan("o_orderdate",
        java.sql.Timestamp.valueOf("1996-07-01 00:00:00"))))
    val inF = pruned0.inputFiles
    val okMonths = (1 to 7).map(m => f"o_orderdate_month=1996-$m%02d").toSet
    val prunedW =
      if (inF.nonEmpty && inF.length < mC.files.size &&
        inF.forall(p => okMonths.exists(p.contains))) 1 else 0
    def leg(n: Int, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(lit(n).cast("int").as("leg"), col("n_orders"), col("total"))
    val inRange = (df: org.apache.spark.sql.DataFrame) => df.where(
      col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
    val leg0 = leg(0, inRange(pruned0))
    // the SQL tail append must re-derive the month layout
    s.sql(
      """INSERT INTO graft_demo.db.hp
        |SELECT o_orderkey + 6000000000, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderdate, o_orderpriority
        |FROM hp_src WHERE o_orderkey % 10 = 7
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'""".stripMargin)
    val mA = manifest()
    val newFiles = mA.files.toSet -- mC.files.toSet
    val layoutHidden =
      if (mA.partitionCols == Seq("months(o_orderdate)") &&
        mA.files.forall(_.contains("o_orderdate_month=")) &&
        newFiles.nonEmpty &&
        !s.table("graft_demo.db.hp").schema.fieldNames
          .contains("o_orderdate_month")) 1 else 0
    val leg1 = leg(1, inRange(s.table("graft_demo.db.hp")))
    leg0.unionByName(leg1)
      .withColumn("pruned", lit(prunedW).cast("int"))
      .withColumn("layout_hidden", lit(layoutHidden).cast("int"))
      .orderBy("leg")
  }

  /** Demo + oracle entry (`u44_hourly_layout`): `hours(ts)` transform
    * partitioning — the reference's consumer grain
    * (`fct_requests_hourly.sql:1-12`, hour strings `README.md:133`)
    * as a hidden layout: one day of the events stream lands as 24
    * `ts_hour=yyyy-MM-dd-HH/` dirs from pure SQL DDL, a 6-hour range
    * predicate on the SOURCE timestamp prunes the scan to the covered
    * hour dirs (transform partitioning auto-records tight footer
    * min/max on `ts`), and the derived column never enters the
    * schema. Legs: 0 = the pruned business-hours range, 1 = per-hour
    * counts replayed relationally. The 100 TB shape: an hourly event
    * lake answers "yesterday 09:00–15:00" reading six dirs of the
    * day, not the stream's history — and writers cannot mis-populate
    * a partition column that does not exist.
    */
  def u44HourlyLayout(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.ev_hourly")
    // one calendar day of events — 24 hour dirs is the witness shape;
    // the day bound rides the CTAS so the demo cost is O(day)
    graft.Tables.events(s, d)
      .where(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-06 00:00:00").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .createOrReplaceTempView("ev_day_src")
    s.sql(
      """CREATE TABLE graft_demo.db.ev_hourly USING graft
        |PARTITIONED BY (hours(ts))
        |AS SELECT * FROM ev_day_src""".stripMargin)
    val dir = s"$wh/db/ev_hourly"
    val m = Snapshots.readManifest(s, dir,
      Snapshots.latestVersion(s, dir).get)
    val pruned0 = Snapshots.readVersionFiltered(s, dir, Some(m.version), Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
        java.sql.Timestamp.valueOf("2024-01-05 09:00:00")),
      org.apache.spark.sql.sources.LessThan("ts",
        java.sql.Timestamp.valueOf("2024-01-05 15:00:00"))))
    val inF = pruned0.inputFiles
    // hour 15 may ride along when a row lands exactly on the bound
    // (min == strict bound; stat overlap is inclusive — conservative)
    val hourRe = ".*ts_hour=2024-01-05-(09|10|11|12|13|14|15).*"
    val prunedW =
      if (inF.nonEmpty && inF.length < m.files.size &&
        inF.forall(_.matches(hourRe))) 1 else 0
    val layoutHidden =
      if (m.partitionCols == Seq("hours(ts)") &&
        m.files.forall(_.contains("ts_hour=2024-01-05-")) &&
        !s.table("graft_demo.db.ev_hourly").schema.fieldNames
          .contains("ts_hour")) 1 else 0
    val leg0 = pruned0
      .where(col("ts") >= lit("2024-01-05 09:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-05 15:00:00").cast("timestamp"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .select(lit(0).cast("int").as("leg"), lit("*").as("hr"),
        col("n_events"), col("total"))
    val leg1 = s.table("graft_demo.db.ev_hourly")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd-HH").as("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .select(lit(1).cast("int").as("leg"), col("hr"),
        col("n_events"), col("total"))
    leg0.unionByName(leg1)
      .withColumn("pruned", lit(prunedW).cast("int"))
      .withColumn("layout_hidden", lit(layoutHidden).cast("int"))
      .orderBy("leg", "hr")
  }

  /** Orders as three year-sliced commits (ingest locality: per-file
    * o_orderdate stats are TIGHT) with a metadata checkpoint written
    * once — the seed of the distributed-planning demo. The slice is a
    * THREE-YEAR window around the witness year: the demo's legs all
    * filter inside 1996, so trimming 1992–94/1998 is result-invisible
    * (the u43 cached-slice lesson — witnesses don't need the full
    * corpus). One source scan feeds all three commits. Read-only;
    * built + checkpointed once per JVM.
    */
  def checkpointedOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"ckptorders:$d", {
      import org.apache.spark.sql.functions.col
      val dir = graft.TempDirs.create("graft-fixture-ckpt")
      val orders = graft.Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1995-01-01" &&
          col("o_orderdate") < "1998-01-01")
        .localCheckpoint()
      val slices = Seq(("1995-01-01", "1996-01-01"),
        ("1996-01-01", "1997-01-01"), ("1997-01-01", "1998-01-01"))
      slices.zipWithIndex.foreach { case ((lo, hi), i) =>
        Snapshots.commit(
          orders.filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
            .coalesce(2),
          dir, if (i == 0) "overwrite" else "append",
          statsColumns = Seq("o_orderdate", "o_orderkey"))
      }
      Snapshots.writeMetadataCheckpoint(s, dir)
      dir
    })

  /** Demo + oracle entry (`u46_metadata_checkpoint`): DISTRIBUTED
    * metadata planning — the version's per-file metadata materialized
    * as parquet by a Spark job ([[Snapshots.writeMetadataCheckpoint]],
    * the Delta-checkpoint role) and a date-range scan PLANNED as a
    * filter over it ([[Snapshots.pruneFilesCheckpointedProbes]] with
    * one range conjunct and no key probe, under the one pruning
    * verdict), so only surviving file names reach the driver.
    * Witnesses: `identical_decisions` pins the
    * checkpointed file set equal to the manifest path's for the same
    * predicates, `pruned` pins that the range actually skipped files.
    * The grouped result serves THROUGH the checkpoint-planned read
    * and replays relationally. The 100 TB shape: planning a one-day
    * query over a 10^7-file table is a Spark job collecting the
    * day's file names — never an O(table) driver parse.
    */
  def u46MetadataCheckpoint(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = checkpointedOrders(s, d)
    val v = Snapshots.latestVersion(s, dir).get
    val m = Snapshots.readManifest(s, dir, v)
    // prune hi bound == the filter's EXCLUSIVE bound: overlaps() is
    // inclusive-conservative, so a boundary file is kept (and then row-
    // filtered) — a narrower bound could prune files the filter wants
    val preds: Seq[(String, Any, Any)] = Seq(("o_orderdate",
      java.sql.Timestamp.valueOf("1996-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
    val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(s, dir, Some(v), Nil, preds)
    val viaManifest = Snapshots.pruneFiles(m, preds).sorted
    val identical = if (viaCkpt == viaManifest) 1 else 0
    val prunedW = if (viaCkpt.nonEmpty && viaCkpt.size < m.files.size) 1 else 0
    Snapshots.readVersionCheckpointedProbes(s, dir, Nil, Some(v), preds)
      .where(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1997-01-01")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .withColumn("identical_decisions", lit(identical).cast("int"))
      .withColumn("pruned", lit(prunedW).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Seed of the u47 point-lookup demo (one per JVM, read-only): the
    * canonical 100 TB serving layout — date-sliced commits × hash
    * buckets on the lookup key × bloom indexes on a secondary key —
    * with its metadata checkpoint materialized.
    */
  def ckptLookupOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"ckptlookup:$d", {
      import org.apache.spark.sql.functions.col
      val dir = graft.TempDirs.create("graft-fixture-ckpt-keys")
      val orders = graft.Tables.orders(s, d).localCheckpoint()
      // slice bounds COVER the generated domain (1995..2001-08) — a
      // clipped slice would silently drop rows vs the oracle's table
      val slices = Seq(("1900-01-01", "1997-01-01"),
        ("1997-01-01", "1999-01-01"), ("1999-01-01", "2100-01-01"))
      slices.zipWithIndex.foreach { case ((lo, hi), i) =>
        Snapshots.commit(
          orders.filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          dir, if (i == 0) "overwrite" else "append",
          statsColumns = Seq("o_orderdate", "o_custkey", "o_orderkey"),
          bucketBy = Some(("o_custkey", 8)),
          bloomColumns = Seq("o_orderkey"))
      }
      Snapshots.writeMetadataCheckpoint(s, dir)
      dir
    })

  /** Demo + oracle entry (`u47_ckpt_point_lookup`): KEY-EQUALITY
    * serving reads planned through the metadata checkpoint — the
    * reference's own `WHERE <key> = ?` serving shape
    * (`serve/api.py:38`) at the ≥10⁶-file planning scale. Two probes:
    * the bucket key (`o_custkey` — hash layout, min/max can't prune)
    * and a bloom-indexed secondary key (`o_orderkey` — stats span the
    * date slices, no bucket), each pinned `identical` to the
    * manifest-path [[Snapshots.pruneForProbes]] decision (bucket ∧ stats
    * ∧ bloom composed in the checkpoint planner,
    * [[Snapshots.pruneFilesCheckpointedProbes]] with one probe) and `pruned`
    * (kept < table's files). Output replays the bucket probe
    * relationally; keys derive from the data so the demo is valid at
    * every SF.
    */
  def u47CkptPointLookup(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = ckptLookupOrders(s, d)
    val v = Snapshots.latestVersion(s, dir).get
    val m = Snapshots.readManifest(s, dir, v)
    val base = Snapshots.readVersion(s, dir, Some(v))
    // bounded collects: 3 + 2 probe literals
    val custKeys: Seq[Any] = base.select("o_custkey").distinct()
      .orderBy("o_custkey").limit(3).collect().map(_.get(0)).toSeq
    val orderKeys: Seq[Any] = base.select("o_orderkey")
      .orderBy("o_orderkey").limit(2).collect().map(_.get(0)).toSeq
    def leg(key: String, keys: Seq[Any]): (Int, Int) = {
      val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
        s, dir, Some(v), Seq(key -> keys))
      val viaManifest = Snapshots.pruneForProbes(s, m, m.files, Seq(key -> keys)).sorted
      (if (viaCkpt == viaManifest) 1 else 0,
        if (viaCkpt.nonEmpty && viaCkpt.size < m.files.size) 1 else 0)
    }
    val (bId, bPr) = leg("o_custkey", custKeys)
    val (lId, lPr) = leg("o_orderkey", orderKeys)
    Snapshots.readVersionCheckpointedProbes(s, dir,
        Seq("o_custkey" -> custKeys), Some(v))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .withColumn("bucket_identical", lit(bId).cast("int"))
      .withColumn("bucket_pruned", lit(bPr).cast("int"))
      .withColumn("bloom_identical", lit(lId).cast("int"))
      .withColumn("bloom_pruned", lit(lPr).cast("int"))
      .orderBy("o_custkey")
  }

  /** Demo + oracle entry (`u49_ckpt_composite_lookup`): the
    * CONJUNCTIVE checkpoint-planned serving probe — the reference's
    * serving predicate shape (`WHERE date = ?`, `serve/api.py:38`)
    * composed with the bucket key (`AND custkey = ?`), planned as ONE
    * checkpoint Spark job composing stats (date slice) ∧ bucket
    * (custkey hash) ∧ bloom verdicts across ALL probed columns
    * ([[Snapshots.pruneFilesCheckpointedProbes]]). Witnesses, computed
    * on real file lists: `composite_identical` pins the composite
    * decision == the manifest-path [[Snapshots.pruneForProbes]] fold;
    * `composite_pruned` that it kept < the table's files;
    * `composite_tighter` that the conjunction kept STRICTLY fewer
    * files than the best single-column probe — the witness that the
    * verdicts actually composed (date stats alone keep a whole slice,
    * custkey bucket alone keeps one bucket per slice; together they
    * keep one slice's one bucket). Probe keys derive from the data
    * (the minimum-orderkey row), so the demo is valid at every SF.
    */
  def u49CkptCompositeLookup(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = ckptLookupOrders(s, d)
    val v = Snapshots.latestVersion(s, dir).get
    val m = Snapshots.readManifest(s, dir, v)
    val base = Snapshots.readVersion(s, dir, Some(v))
    // bounded collect: ONE probe row (o_orderkey is unique)
    val row = base.orderBy("o_orderkey")
      .select("o_orderdate", "o_custkey").limit(1).collect().head
    val probes: Seq[(String, Seq[Any])] = Seq(
      "o_orderdate" -> Seq(row.get(0)), "o_custkey" -> Seq(row.get(1)))
    val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
      s, dir, Some(v), probes)
    val viaManifest = Snapshots.pruneForProbes(s, m, m.files, probes).sorted
    val singles = probes.map(p => Snapshots.pruneFilesCheckpointedProbes(
      s, dir, Some(v), Seq(p)).size)
    val ident = if (viaCkpt == viaManifest) 1 else 0
    val pruned = if (viaCkpt.nonEmpty && viaCkpt.size < m.files.size) 1 else 0
    val tighter = if (viaCkpt.nonEmpty && viaCkpt.size < singles.min) 1 else 0
    Snapshots.readVersionCheckpointedProbes(s, dir, probes, Some(v))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .withColumn("composite_identical", lit(ident).cast("int"))
      .withColumn("composite_pruned", lit(pruned).cast("int"))
      .withColumn("composite_tighter", lit(tighter).cast("int"))
  }

  /** Demo + oracle entry (`u50_ckpt_mixed_probe`): the RANGE ∧ KEY
    * serving probe — `date BETWEEN ? AND ? AND custkey = ?`, the other
    * canonical serving conjunction (a time window over one entity) —
    * planned as ONE checkpoint Spark job: the range conjunct prunes by
    * footer stats exactly as [[Snapshots.pruneFiles]] does,
    * AND-composed with the key probe's bucket ∧ stats ∧ bloom verdict,
    * all in [[Snapshots.pruneFilesCheckpointedProbes]]. Witnesses on real file lists: `mixed_identical` pins the
    * decision == the manifest path (the same verdict over the
    * assembled manifest), `mixed_pruned` that it kept < the table's
    * files, `mixed_tighter` that the conjunction kept STRICTLY fewer
    * than either the range alone (a whole date slice) or the key alone
    * (one bucket per slice). The probe key derives from the data (the
    * minimum-orderkey row INSIDE the window), valid at every SF.
    */
  def u50CkptMixedProbe(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = ckptLookupOrders(s, d)
    val v = Snapshots.latestVersion(s, dir).get
    val m = Snapshots.readManifest(s, dir, v)
    val lo = java.sql.Timestamp.valueOf("1997-03-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-06-30 00:00:00")
    val base = Snapshots.readVersion(s, dir, Some(v))
    // bounded collect: ONE probe key, from inside the window
    val ck: Any = base
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") <= lit(hi))
      .orderBy("o_orderkey").select("o_custkey").limit(1).collect().head.get(0)
    val probes: Seq[(String, Seq[Any])] = Seq("o_custkey" -> Seq(ck))
    val ranges: Seq[(String, Any, Any)] = Seq(("o_orderdate", lo, hi))
    val viaCkpt = Snapshots.pruneFilesCheckpointedProbes(
      s, dir, Some(v), probes, ranges)
    val viaManifest = Snapshots.pruneForProbes(
      s, m, Snapshots.pruneFiles(m, ranges), probes).sorted
    val rangeOnly = Snapshots.pruneFilesCheckpointedProbes(
      s, dir, Some(v), Nil, ranges).size
    val keyOnly = Snapshots.pruneFilesCheckpointedProbes(
      s, dir, Some(v), probes).size
    val ident = if (viaCkpt == viaManifest) 1 else 0
    val pruned = if (viaCkpt.nonEmpty && viaCkpt.size < m.files.size) 1 else 0
    val tighter =
      if (viaCkpt.nonEmpty && viaCkpt.size < math.min(rangeOnly, keyOnly)) 1
      else 0
    Snapshots.readVersionCheckpointedProbes(s, dir, probes, Some(v), ranges)
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .withColumn("mixed_identical", lit(ident).cast("int"))
      .withColumn("mixed_pruned", lit(pruned).cast("int"))
      .withColumn("mixed_tighter", lit(tighter).cast("int"))
  }

  /** Seeds of the u48 histogram demo (one per JVM, read-only): a
    * SKEWED fact — 99% of rows share one key value, 1% spread over a
    * high range (the k1_skew_profile shape) — committed with per-file
    * KLL sketches, and a deliberately-padded dim big enough that it
    * never broadcasts on its own.
    */
  def histSkewOrders(s: SparkSession, d: String): (String, String) = {
    import org.apache.spark.sql.functions._
    val factDir = cache.getOrElseUpdate(s"histfact:$d", {
      val dir = graft.TempDirs.create("graft-fixture-hist-fact")
      val skewed = graft.Tables.orders(s, d).select(
        when(col("o_orderkey") % 100 < 99, lit(5L))
          .otherwise(lit(1000000L) + col("o_orderkey")).as("sk"),
        col("o_custkey"), col("o_totalprice"))
      Snapshots.commit(skewed.repartition(4), dir, "overwrite",
        statsColumns = Seq("sk"), ndvColumns = Seq("sk"),
        histColumns = Seq("sk"))
      // checkpointed: the histogram (and NDV) feed serves from the
      // checkpoint's pre-reduced per-(segment, column) KLL/HLL unions
      // (the 10⁷-file path), not a per-file driver fold — u48's
      // skew-aware witnesses ride the checkpoint live, the way u45's
      // NDV witness does
      Snapshots.writeMetadataCheckpoint(s, dir)
      dir
    })
    val dimDir = cache.getOrElseUpdate(s"histdim:$d", {
      val dir = graft.TempDirs.create("graft-fixture-hist-dim")
      // ~1 KB of incompressible (random-hex) payload per customer: the
      // dim's ledger size scales with the fact's, keeping it above the
      // demo's row-proportional broadcast threshold at EVERY sf (the
      // fixture is deterministic, so the margin is fixed, not flaky)
      val dim = graft.Tables.orders(s, d).select(col("o_custkey"))
        .distinct()
        .withColumn("pad", concat((0 until 32).map(j =>
          md5(concat(col("o_custkey").cast("string"), lit(s"-$j")))): _*))
      Snapshots.commit(dim.coalesce(2), dir, "overwrite")
      dir
    })
    (factDir, dimDir)
  }

  /** Demo + oracle entry (`u48_histogram_skew`): per-file KLL quantile
    * sketches merged to an equi-height histogram
    * (`CatalogColumnStat.histogram`, served from metadata by
    * [[graft.plans.RelationLedgerStats]]) giving CBO SKEW-AWARE filter
    * selectivity. The predicate keeps the 1% tail of a 99%-skewed
    * column; min/max alone can't see that. Witnesses, A/B'd on the
    * `graft.stats.histograms` feed alone: `estimate_skew_aware` pins
    * the histogram estimate within 5× of actual while the feed-off
    * estimate misses by >5× (it has no selectivity signal at all), and
    * `broadcast_flipped` pins the BUILD-SIDE FLIP — with the histogram
    * the filtered fact is estimated tiny and BROADCASTS into a dim too
    * big to broadcast itself; without it the join shuffles. The 100 TB
    * shape: a mis-estimated skewed filter turns a broadcastable probe
    * into a full two-sided shuffle. Output replays the filtered
    * aggregate relationally (the dim join is row-preserving by
    * construction — every fact key exists in the dim).
    */
  def u48HistogramSkew(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (factDir, dimDir) = histSkewOrders(s, d)
    val fact = s.read.format("graft").load(factDir)
    // the dim reads through the plain-parquet path: its plan-time size
    // is the REAL file bytes (~1 KB/row of random hex). A cardinality
    // estimate (rowCount × default string width) would undersize the
    // pad column and make the dim broadcastable whatever the fact does
    val dim = Snapshots.readVersion(s, dimDir, Some(0L))
    val nRows = Snapshots.readManifest(s, factDir, 0L).dataRows
    val restore = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "graft.stats.histograms")
      .map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      // row-proportional threshold: the histogram's ~1%-of-rows
      // estimate falls under it, the feed-off near-unfiltered estimate
      // and the padded dim (~40 B/row ledger floor) stay above — the
      // same flip at every sf
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (4L * nRows).toString)
      // the aggregate CONSUMES the dim's pad (distinct count — pad is
      // md5(custkey), injective in practice), so column pruning cannot
      // shrink the dim side under the threshold: the only way a
      // broadcast appears is the filtered FACT estimating small
      def query(): org.apache.spark.sql.DataFrame =
        fact.where(col("sk") >= 1000000L)
          .join(dim, "o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"),
            countDistinct(col("pad")).as("n_tail_custs"))
      def run(): (String, Option[BigInt]) = {
        val q = query()
        val est = q.queryExecution.optimizedPlan.collect {
          case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            fl.stats.rowCount
        }.headOption.flatten
        (q.queryExecution.executedPlan.toString, est)
      }
      s.conf.set("graft.stats.histograms", "true")
      val (planOn, estOn) = run()
      s.conf.set("graft.stats.histograms", "false")
      val (planOff, estOff) = run()
      val actual = nRows / 100 // the 1% tail (o_orderkey % 100 == 99)
      val skewAware =
        if (estOn.exists(e => e.toLong <= actual * 5 &&
              e.toLong >= actual / 5) &&
            estOff.forall(_.toLong > actual * 5)) 1 else 0
      val flipped =
        if (planOn.contains("BroadcastHashJoin") &&
            !planOff.contains("BroadcastHashJoin")) 1 else 0
      s.conf.set("graft.stats.histograms", "true")
      query()
        .withColumn("estimate_skew_aware", lit(skewAware).cast("int"))
        .withColumn("broadcast_flipped", lit(flipped).cast("int"))
    } finally restore.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Star-schema fixtures WITH per-file NDV sketches on the join keys
    * (one per JVM, read-only) — the seeds of the CBO join-reorder
    * demo: distinct counts are what turn plan-time row counts into
    * join-output cardinality estimates.
    */
  def ndvOrders(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"ndvorders:$d", {
      val dir = graft.TempDirs.create("graft-fixture-ndv-orders")
      Snapshots.commit(graft.Tables.orders(s, d), dir, "overwrite",
        ndvColumns = Seq("o_custkey"))
      // checkpointed: the fact table's distinctCount serves from the
      // checkpoint's pre-reduced per-segment NDV unions (the 10⁷-file
      // path), not a per-file driver merge — u45's ndv_served witness
      // rides the checkpoint live
      Snapshots.writeMetadataCheckpoint(s, dir)
      dir
    })
  def ndvCustomer(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"ndvcustomer:$d", {
      val dir = graft.TempDirs.create("graft-fixture-ndv-customer")
      Snapshots.commit(graft.Tables.customer(s, d), dir, "overwrite",
        ndvColumns = Seq("c_custkey", "c_nationkey"))
      dir
    })
  def ndvNation(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"ndvnation:$d", {
      val dir = graft.TempDirs.create("graft-fixture-ndv-nation")
      Snapshots.commit(graft.Tables.nation(s, d), dir, "overwrite",
        ndvColumns = Seq("n_nationkey"))
      dir
    })

  /** Demo + oracle entry (`u45_cbo_reorder`): manifest NDV sketches
    * driving COST-BASED JOIN REORDERING. The query is written in the
    * worst order — the 100×-larger fact joined first — and CBO
    * (ledger row counts from [[graft.plans.RelationLedgerStats]] +
    * per-column distinctCount merged from the per-file HLL sketches)
    * re-plans it dim-first: the `reordered` witness pins that the
    * optimized plan's innermost join holds customer ⋈ nation (not
    * orders), `ndv_served` pins distinctCount reaching the plan's
    * attributeStats. Output replays the grouped join relationally.
    * The 100 TB shape: a wrong 3-table join order materializes a
    * fact-sized intermediate twice; ANALYZE-grade column stats from
    * metadata (no scan) are what let the optimizer avoid it.
    */
  def u45CboReorder(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = s.read.format("graft").load(ndvOrders(s, d)).as("o")
    val customer = s.read.format("graft").load(ndvCustomer(s, d)).as("c")
    val nation = s.read.format("graft").load(ndvNation(s, d)).as("n")
    val restore = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val joined = orders
        .join(customer, col("o.o_custkey") === col("c.c_custkey"))
        .join(nation, col("c.c_nationkey") === col("n.n_nationkey"))
        .groupBy(col("n.n_name").as("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
      val opt = joined.queryExecution.optimizedPlan
      val innerJoin = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.last
      val ordersDirName = new org.apache.hadoop.fs.Path(
        ndvOrders(s, d)).getName
      val reordered =
        if (!innerJoin.collectLeaves().exists(
          _.toString.contains(ordersDirName))) 1 else 0
      val ndvServed =
        if (opt.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.stats.attributeStats
        }.exists(_.exists(_._2.distinctCount.isDefined))) 1 else 0
      joined
        .withColumn("reordered", lit(reordered).cast("int"))
        .withColumn("ndv_served", lit(ndvServed).cast("int"))
        .orderBy("n_name")
    } finally restore.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Demo + oracle entry (`u33_partition_count`): grouped and
    * partition-filtered `COUNT(*)` served from the MANIFEST by the
    * extended [[graft.plans.MetadataOnlyCount]] rule — per-file row
    * accounting × exact partition stats, zero file reads. The
    * `metadata_only` witness pins (through the oracle) that both SQL
    * statements optimized to a LocalRelation — not just that the
    * numbers agree; the numbers themselves replay relationally in
    * DuckDB. The 100 TB shape: `SELECT day, COUNT(*) GROUP BY day`
    * over a decade of partitions is an O(manifest) driver answer.
    */
  /** The customer table committed once — the small-dimension seed for
    * the plan-statistics demo (read-only, shared like [[seededOrders]]).
    */
  def seededCustomer(s: SparkSession, d: String): String =
    cache.getOrElseUpdate(s"customer:$d", {
      val dir = graft.TempDirs.create("graft-fixture-customer")
      Snapshots.commit(graft.Tables.customer(s, d), dir, "overwrite")
      dir
    })

  /** Plan-statistics demo — the manifest byte ledger as plan-time
    * stats: a graft→graft join of orders (fact) to customer (small
    * dim) must plan a BroadcastHashJoin with NO hint, purely from
    * [[GraftRelation.sizeInBytes]] serving the ledger's exact on-disk
    * bytes (a V1 relation without the override reports the session
    * default — effectively infinite — and can never auto-broadcast).
    * The `broadcast_planned` witness pins the physical plan; the
    * per-segment aggregate pins the join's semantics against the
    * relational oracle.
    */
  def u39BroadcastStats(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val fact = s.read.format("graft").load(seededOrders(s, d))
    val dim = s.read.format("graft").load(seededCustomer(s, d))
    val joined = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
    val plan = joined.queryExecution.executedPlan.toString
    val witness =
      if (plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin")) 1
      else 0
    joined.withColumn("broadcast_planned", lit(witness).cast("int"))
      .orderBy("c_mktsegment")
  }

  def u33PartitionCount(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = partitionedOrders(s, d)
    s.sql("CREATE OR REPLACE TEMPORARY VIEW part_counts " +
      s"USING graft OPTIONS (path '$dir')")
    val grouped = s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n FROM part_counts
        |GROUP BY o_orderstatus""".stripMargin)
    val filtered = s.sql(
      "SELECT COUNT(*) AS n FROM part_counts WHERE o_orderstatus = 'O'")
    def metadataOnly(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }.nonEmpty
    val witness = if (metadataOnly(grouped) && metadataOnly(filtered)) 1 else 0
    grouped.select(lit("grouped").as("scope"), col("o_orderstatus"), col("n"))
      .unionByName(filtered.select(lit("filtered").as("scope"),
        lit("O").as("o_orderstatus"), col("n")))
      .withColumn("metadata_only", lit(witness).cast("int"))
      .orderBy("scope", "o_orderstatus")
  }

  /** Demo + oracle entry (`u51_bucket_join`): the storage-partitioned
    * (shuffle-free) fact⋈fact join (VERDICT r14 task #3) — lineitem
    * hash-clustered on l_orderkey and orders on o_orderkey with the
    * same bucket count, joined by
    * [[Snapshots.bucketAlignedJoin]]: per-bucket zip + in-task hash
    * join, ZERO `Exchange` anywhere in the join's executed plan
    * (`shuffle_free_join` pins it through the oracle; at 100 TB this
    * is the single biggest avoidable cost of the join — both sides'
    * full-table shuffles). The per-status rollup above it shuffles
    * normally (tiny — post-join aggregates); the oracle replays the
    * whole join relationally, so the compare proves the aligned
    * placement produced exactly the shuffled join's rows.
    */
  def u51BucketJoin(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val lhs = bucketedLineitem8(s, d)
    val rhs = cachedSeed("graft-spj-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d), dir, "overwrite",
        bucketBy = Some(("o_orderkey", 8))))
    val joined = Snapshots.bucketAlignedJoin(
      s, lhs, rhs, "l_orderkey", "o_orderkey")
    // the REAL witness: outer plan AND the per-bucket inner plans —
    // the returned frame alone is an ExistingRDD scan and would make
    // this vacuous (ADVICE r15)
    val witness = if (Snapshots.alignedShuffleFree(joined)) 1 else 0
    joined.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .withColumn("shuffle_free_join", lit(witness).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Demo + oracle entry (`u52_stat_repairs`): the ANALYZE/INVALIDATE
    * repair family under the driver's hash gate (VERDICT r14 task
    * #6). Protocol: orders range-laid into 8 files with NO recorded
    * stats/sketches (v0 — a table predating `statsColumns`/
    * `ndvColumns`/`histColumns`), where a key-range read must touch
    * EVERY file; [[Snapshots.analyzeStats]] backfills footer min/max
    * + null counts metadata-only (v1) and the same read prunes;
    * [[Snapshots.analyzeNdv]] (v2) and
    * [[Snapshots.analyzeHistograms]] (v3) restore the
    * all-files-or-nothing CBO feeds; [[Snapshots.invalidateStats]]
    * (v4 — the trust-revocation inverse) drops the column's stats and
    * the read conservatively touches every file again. `repairs_ok`
    * folds the witnesses: pre-backfill inputFiles == all 8,
    * post-backfill strictly fewer, post-invalidate all 8 again, DATA
    * FILES IDENTICAL across all five versions (every repair is one
    * metadata commit), merged NDV within 20% of exact, merged
    * histogram serving non-empty bins. The oracle replays each leg's
    * range aggregate relationally (metadata repairs must never move a
    * row) and pins n_versions = 5 and repairs_ok = 1. The 100 TB
    * story: file skipping and CBO feeds restored on a fleet of
    * legacy tables by three METADATA-ONLY passes — footer reads and
    * sketch builds over only the uncovered files, never a rewrite.
    */
  def u52StatRepairs(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("graft-stat-repairs")
    // the range key is o_orderkey mod 1000: a DENSE 0..999 domain at
    // every scale factor, so the fixed oracle window [100, 200] always
    // covers ~1/8 of the 8-file range layout (a raw-key window would
    // cover the whole domain at small SFs and prune nothing)
    val orders = graft.Tables.orders(s, d)
      .withColumn("k", col("o_orderkey") % 1000)
    Snapshots.commit(orders.repartitionByRange(8, col("k")),
      dir, "overwrite")
    val m0 = Snapshots.readManifest(s, dir, 0L)
    def rangeRead(v: Long) =
      Snapshots.readVersionPruned(s, dir, v, "k", 100L, 200L)
        .filter(col("k").between(100L, 200L))
    val preFiles = rangeRead(0L).inputFiles.length
    val v1 = Snapshots.analyzeStats(s, dir, Seq("k"))
    val postFiles = rangeRead(v1).inputFiles.length
    Snapshots.analyzeNdv(s, dir, Seq("k"))
    val v3 = Snapshots.analyzeHistograms(s, dir, Seq("o_totalprice"))
    val m3 = Snapshots.readManifest(s, dir, v3)
    val exactNdv = orders.select(countDistinct(col("k"))).head.getLong(0)
    val ndvOk = Snapshots.mergedNdv(m3, "k").exists(est =>
      math.abs(est - exactNdv).toDouble / exactNdv < 0.2)
    val histOk = Snapshots.mergedHistogram(m3, "o_totalprice", 16)
      .exists(_.bins.nonEmpty)
    val v4 = Snapshots.invalidateStats(s, dir, Seq("k"))
    val invalFiles = rangeRead(v4).inputFiles.length
    val metadataOnly = (0L to v4).forall(v =>
      Snapshots.readManifest(s, dir, v).files.toSet == m0.files.toSet)
    val repairsOk =
      if (preFiles == m0.files.size && postFiles < preFiles &&
        invalFiles == m0.files.size && ndvOk && histOk && metadataOnly) 1
      else 0
    def leg(i: Int, v: Long) = rangeRead(v)
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .select(lit(i).cast("int").as("leg"), col("n_orders"), col("total"))
    leg(0, 0L).unionByName(leg(1, v1)).unionByName(leg(2, v4))
      .withColumn("n_versions", lit((v4 + 1).toInt).cast("int"))
      .withColumn("repairs_ok", lit(repairsOk).cast("int"))
      .orderBy("leg")
  }

  /** Demo + oracle entry (`u53_bucket_join_family`): the
    * storage-partitioned join's OUTER/SEMI/ANTI types — the r15
    * extension of [[Snapshots.bucketAlignedJoin]] past u51's inner
    * join. Orders is committed FILTERED to `o_orderkey % 3 = 0` so a
    * real unmatched-left population exists: the left-outer rollup
    * groups unmatched lineitems under `~none~` (NULL right columns),
    * `n_semi`/`n_anti` replay the left_semi / left_anti joins as
    * scalar witnesses (semi emits each matched row once, anti the
    * complement — they must sum to the lineitem count), and
    * `shuffle_free_join` pins ZERO `Exchange` in ALL THREE executed
    * join plans, and `merge_parity` pins that the MERGE strategy
    * (the memory-bounded sort-merge variant) reproduces the semi
    * count shuffle-free. The oracle replays every leg relationally (LEFT
    * JOIN rollup + IN / NOT IN counts), so the compare proves the
    * aligned placement reproduced Spark's own outer/semi/anti
    * semantics exactly — at 100 TB these are the enrichment
    * (fact LEFT JOIN fact), incremental-filter (semi) and
    * "not-yet-processed" (anti) shapes, each with both full-table
    * shuffles elided.
    */
  def u53BucketJoinFamily(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val lhs = bucketedLineitem8(s, d)
    val rhs = cachedSeed("graft-spjf-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        dir, "overwrite", bucketBy = Some(("o_orderkey", 8))))
    def aligned(jt: String) = Snapshots.bucketAlignedJoin(
      s, lhs, rhs, "l_orderkey", "o_orderkey", joinType = jt)
    // alignedShuffleFree inspects the per-bucket INNER plans recorded
    // at build time (the returned frame alone is an ExistingRDD scan
    // — vacuous), so each witness is taken right after its build,
    // before the next aligned call overwrites the recording
    val outer = aligned("left_outer")
    val outerOk = Snapshots.alignedShuffleFree(outer)
    val semi = aligned("left_semi")
    val semiOk = Snapshots.alignedShuffleFree(semi)
    val anti = aligned("left_anti")
    val antiOk = Snapshots.alignedShuffleFree(anti)
    val witness = if (outerOk && semiOk && antiOk) 1 else 0
    val nSemi = semi.count()
    val nAnti = anti.count()
    // the MERGE strategy (in-task spillable sort + streaming merge
    // join, memory O(one equal-key group) instead of O(right bucket))
    // must produce the same rows from the same layout, still with
    // zero Exchange — replayed here on the semi leg
    val semiMerge = Snapshots.bucketAlignedJoin(
      s, lhs, rhs, "l_orderkey", "o_orderkey",
      joinType = "left_semi", strategy = "merge")
    val semiMergeOk = Snapshots.alignedShuffleFree(semiMerge)
    val mergeParity =
      if (semiMerge.count() == nSemi && semiMergeOk) 1 else 0
    outer.groupBy(coalesce(col("o_orderstatus"), lit("~none~")).as("status"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .withColumn("n_semi", lit(nSemi))
      .withColumn("n_anti", lit(nAnti))
      .withColumn("shuffle_free_join", lit(witness).cast("int"))
      .withColumn("merge_parity", lit(mergeParity).cast("int"))
      .orderBy("status")
  }

  /** Demo + oracle entry (`u54_join_pruning`): DYNAMIC (join-driven)
    * file pruning — [[Snapshots.joinFilePruned]]. Orders
    * hash-clustered on `o_custkey` (16 buckets) with a metadata
    * checkpoint; the dim side is customer filtered to three keys
    * KNOWN ONLY AT RUN TIME (no static fact predicate exists for the
    * planner to push). The operator runs the dim first, plans the
    * fact read from its collected keys through the checkpoint
    * planning job, and broadcast-joins — `files_pruned` pins that
    * the joined plan touched STRICTLY FEWER fact files than the
    * table holds (≤3 of 16 buckets by placement). `fallback_parity`
    * re-runs the same join with `graft.probe.maxKeys = 2` — over
    * budget, the operator must degrade to the full snapshot read
    * with identical rows (pruning is a scan reducer, never the
    * filter). The oracle replays the join relationally. The 100 TB
    * story: "join today's dim slice" stops scanning the fact table —
    * the dim's keys prune at planning time, exactly Delta's dynamic
    * file pruning, served here from the checkpoint in O(segments +
    * tail) driver work.
    */
  def u54JoinPruning(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val factDir = cachedSeed("graft-dfp-orders", d) { dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        dir, "overwrite", bucketBy = Some(("o_custkey", 16)))
      Snapshots.writeMetadataCheckpoint(s, dir)
    }
    val dim = graft.Tables.customer(s, d)
      .filter(col("c_custkey").isin(1L, 5L, 9L))
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = Snapshots.joinFilePruned(
      s, factDir, "o_custkey", dim, "c_custkey")
    val factName = new org.apache.hadoop.fs.Path(factDir).getName
    val totalFiles = Snapshots.readManifest(s, factDir, 0L).files.size
    val scanned = joined.inputFiles.count(_.contains(factName))
    val filesPruned = if (scanned < totalFiles) 1 else 0
    val n = joined.count()
    // over-budget leg: 3 keys > maxKeys=2 must degrade to the full
    // snapshot read and still produce exactly the same rows
    val before = s.conf.getOption("graft.probe.maxKeys")
    val (nFull, scannedFull) =
      try {
        s.conf.set("graft.probe.maxKeys", "2")
        val full = Snapshots.joinFilePruned(
          s, factDir, "o_custkey", dim, "c_custkey")
        (full.count(), full.inputFiles.count(_.contains(factName)))
      } finally before match {
        case Some(v) => s.conf.set("graft.probe.maxKeys", v)
        case None    => s.conf.unset("graft.probe.maxKeys")
      }
    val fallbackParity =
      if (nFull == n && scannedFull == totalFiles) 1 else 0
    joined.agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total"))
      .withColumn("files_pruned", lit(filesPruned).cast("int"))
      .withColumn("fallback_parity", lit(fallbackParity).cast("int"))
  }

  /** Demo + oracle entry (`u55_bucket_agg`): STORAGE-PARTITIONED
    * (shuffle-free) GROUPED AGGREGATION —
    * [[Snapshots.bucketAlignedAggregate]]. Orders hash-clustered on
    * `o_custkey` (16 buckets, price pre-cast to decimal(18,2) so
    * every emitted sum is exactly replayable); a full
    * `GROUP BY o_custkey` with count/sum/min/max runs with ZERO
    * `Exchange` — each bucket aggregates in-task over a spillable
    * sort, memory O(one group) however large the bucket. The oracle
    * replays the whole aggregation relationally (every group's four
    * aggregates hash-compared), `shuffle_free_agg` pins the plan. At
    * 100 TB this is the pre-aggregation shape: the hourly/daily
    * rollup on the cluster key that planner-driven grouping pays a
    * full-table shuffle for on every run.
    */
  def u55BucketAgg(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = cachedSeed("graft-spa-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_custkey"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("o_custkey", 16))))
    val agg = Snapshots.bucketAlignedAggregate(s, dir, Seq(
      ("count", "*", "n"), ("sum", "price", "total"),
      ("min", "price", "lo"), ("max", "price", "hi")))
    val witness = if (Snapshots.alignedShuffleFree(agg)) 1 else 0
    agg.select(col("o_custkey").as("k"), col("n"),
        col("total").cast("double").as("total"),
        col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi"))
      .withColumn("shuffle_free_agg", lit(witness).cast("int"))
      .orderBy("k")
  }

  /** Demo + oracle entry (`u56_cluster_tail`): INCREMENTAL tail
    * re-cluster — [[Snapshots.clusterTail]], the O(tail) repair that
    * replaces [[Snapshots.compactBucketed]]'s O(table) rewrite for
    * the "plain appends since the last re-cluster" case. Protocol:
    * 4/5 of orders hash-clustered on `o_orderkey` (v0), the last 1/5
    * appended PLAIN (v1 — the unclustered tail every bucket consumer
    * refuses), a row-level DELETE masking keys across BOTH
    * populations (v2), then `clusterTail` (v3) rewrites ONLY the
    * tail. Witnesses folded into `repair_ok`: every post-repair file
    * bucket-mapped, the v0 bulk rides BY REFERENCE (file-set subset
    * — the 100 TB bulk is untouched), masked rows stay gone, and the
    * final read-back runs through [[Snapshots.bucketAlignedAggregate]]
    * on the repaired layout with a zero-Exchange plan — which also
    * PROVES the fresh files landed on the law every bucketed write
    * uses (a misplaced row would split its group across partitions
    * and break the hash compare). The oracle replays the surviving
    * rows relationally (count, distinct keys, exact decimal total).
    */
  def u56ClusterTail(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = graft.TempDirs.create("graft-ct-orders")
    val orders = graft.Tables.orders(s, d)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    Snapshots.commit(orders.filter(col("o_orderkey") % 5 =!= 0),
      dir, "overwrite", bucketBy = Some(("o_orderkey", 8)))
    Snapshots.commit(orders.filter(col("o_orderkey") % 5 === 0),
      dir, "append")
    Snapshots.deleteWhere(s, dir, col("o_orderkey") % 7 === 0)
    val v0Files = Snapshots.readManifest(s, dir, 0L).files.toSet
    val v = Snapshots.clusterTail(s, dir)
    val m = Snapshots.readManifest(s, dir, v)
    val agg = Snapshots.bucketAlignedAggregate(s, dir, Seq(
      ("count", "*", "n"), ("sum", "price", "t")))
    val repairOk =
      if (m.files.forall(m.buckets.contains) &&
        v0Files.subsetOf(m.files.toSet) && v == 3L &&
        Snapshots.alignedShuffleFree(agg)) 1
      else 0
    agg.agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(col("t")).cast("double").as("total"))
      .withColumn("repair_ok", lit(repairOk).cast("int"))
  }

  /** Demo + oracle entry (`u57_sorted_layout`): the SORTED-bucket
    * layout end to end — orders committed `sortBuckets` (v0, 2/3 of
    * the rows) plus a SORTED bucketed append (v1, the rest), so every
    * bucket holds TWO key-ordered files. The aligned aggregation then
    * streams the layout with zero Exchange AND zero Sort
    * ([[Snapshots.alignedSortFree]] — the tree-merge path, not the
    * in-task sorter). `sorted_ok` folds the witnesses: every file
    * carries a sorted marker, both witnesses true. The oracle replays
    * every group's count/sum relationally — proving the skip-sort
    * stream grouped EXACTLY (an out-of-order run would split groups
    * and break the hash compare). The 100 TB story: the dominant
    * in-task cost of the aligned join/agg family (the per-bucket
    * external sort) priced out by write-side ordering, the
    * Iceberg-sort-order / Hive-SORTED-BY shape.
    */
  def u57SortedLayout(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = cachedSeed("graft-sorted-orders", d) { dir =>
      val orders = graft.Tables.orders(s, d)
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      Snapshots.commit(orders.filter(col("o_custkey") % 3 =!= 0),
        dir, "overwrite", bucketBy = Some(("o_custkey", 8)),
        sortBuckets = true)
      Snapshots.commit(orders.filter(col("o_custkey") % 3 === 0),
        dir, "append", bucketBy = Some(("o_custkey", 8)),
        sortBuckets = true)
    }
    val m = Snapshots.readManifest(s, dir, 1L)
    val agg = Snapshots.bucketAlignedAggregate(s, dir, Seq(
      ("count", "*", "n"), ("sum", "price", "total")))
    val sortedOk =
      if (m.sortedFiles.keySet == m.files.toSet &&
        Snapshots.alignedShuffleFree(agg) &&
        Snapshots.alignedSortFree(agg)) 1
      else 0
    agg.select(col("o_custkey").as("k"), col("n"),
        col("total").cast("double").as("total"))
      .withColumn("sorted_ok", lit(sortedOk).cast("int"))
      .orderBy("k")
  }

  /** Demo + oracle entry (`u58_join_agg`): the FUSED star query —
    * `SELECT key, aggs FROM lineitem JOIN orders USING (key) GROUP BY
    * key` through [[Snapshots.bucketAlignedJoinAggregate]]: per
    * bucket, ONE task merge-joins the two key-ordered sides and folds
    * the groups as they stream — zero Exchange, and (both sides
    * committed sorted) zero Sort; the join result is never
    * materialized. `fused_ok` folds both witnesses. The oracle
    * replays the join + GROUP BY relationally — every group's
    * count/sums hash-compared. The 100 TB story: the canonical
    * fact⋈fact rollup without shuffling either table OR holding a
    * hash table of groups — wall-clock is the largest bucket pair,
    * memory O(one group).
    */
  def u58JoinAgg(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val lhs = cachedSeed("graft-ja-lineitem", d)(dir =>
      Snapshots.commit(graft.Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            col("l_quantity").cast("decimal(18,2)").as("qty")),
        dir, "overwrite", bucketBy = Some(("l_orderkey", 8)),
        sortBuckets = true))
    val rhs = cachedSeed("graft-ja-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("o_orderkey", 8)),
        sortBuckets = true))
    val fused = Snapshots.bucketAlignedJoinAggregate(s, lhs, rhs,
      "l_orderkey", "o_orderkey", Seq(
        ("count", "*", "n"), ("sum", "qty", "sum_qty"),
        ("min", "price", "price")))
    val fusedOk =
      if (Snapshots.alignedShuffleFree(fused) &&
        Snapshots.alignedSortFree(fused)) 1
      else 0
    fused.select(col("l_orderkey").as("k"), col("n"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("price").cast("double").as("price"))
      .withColumn("fused_ok", lit(fusedOk).cast("int"))
      .orderBy("k")
  }

  /** Demo + oracle entry (`u59_latest_by_key`): LATEST-row-per-entity
    * over the bucket layout — [[Snapshots.bucketAlignedLatest]], the
    * CDC "current state" read executed as one key-ordered streaming
    * pass per bucket (zero Exchange; committed sorted, so zero Sort
    * either). Order column: `o_orderkey` with every 11th NULLed — a
    * NULL order never wins, and an entity whose orders are ALL
    * NULL-ordered is absent, exactly the relational
    * join-on-max(ord) semantics the oracle replays. The 100 TB
    * story: the planner's window (`row_number() OVER (PARTITION BY
    * key ORDER BY ord DESC) = 1`) shuffles and sorts the whole
    * table; this streams each bucket once holding ONE candidate row.
    */
  def u59LatestByKey(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = cachedSeed("graft-latest-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_custkey").as("k"),
            when(col("o_orderkey") % 11 === 0, lit(null))
              .otherwise(col("o_orderkey")).as("ord"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("k", 8)), sortBuckets = true))
    val latest = Snapshots.bucketAlignedLatest(s, dir, "ord")
    val latestOk =
      if (Snapshots.alignedShuffleFree(latest) &&
        Snapshots.alignedSortFree(latest)) 1
      else 0
    latest.select(col("k"), col("ord"),
        col("price").cast("double").as("price"))
      .withColumn("latest_ok", lit(latestOk).cast("int"))
      .orderBy("k")
  }

  /** The shared purchases⋈clicks as-of fixture of u60/u62: commit
    * both sides (user, ts)-sorted-bucketed (clicks deduped to unique
    * (user, ts) — as-of ties are arbitrary by contract), run
    * [[Snapshots.bucketAlignedAsof]] with the given direction/
    * tolerance, fold both witnesses into `okCol`.
    */
  private def asofEntry(s: SparkSession, d: String, tmpPrefix: String,
                        direction: String, tolerance: Option[Long],
                        okCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val lhs = cachedSeed(s"$tmpPrefix-purchases", d)(dir =>
      Snapshots.commit(
        e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("purchase_ts")),
        dir, "overwrite", bucketBy = Some(("user_id", 8)),
        sortBuckets = true, sortAlso = Seq("purchase_ts")))
    val rhs = cachedSeed(s"$tmpPrefix-clicks", d)(dir =>
      Snapshots.commit(
        e.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("ruid"), col("ts").as("click_ts"))
          .agg(max(col("event_id")).as("click_id")),
        dir, "overwrite", bucketBy = Some(("ruid", 8)),
        sortBuckets = true, sortAlso = Seq("click_ts")))
    val asof = Snapshots.bucketAlignedAsof(s, lhs, rhs,
      "user_id", "ruid", "purchase_ts", "click_ts",
      direction = direction, tolerance = tolerance)
    val asofOk =
      if (Snapshots.alignedShuffleFree(asof) &&
        Snapshots.alignedSortFree(asof)) 1
      else 0
    asof.select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_ts"), col("click_id"))
      .withColumn(okCol, lit(asofOk).cast("int"))
      .orderBy("purchase_id")
  }

  /** Demo + oracle entry (`u60_aligned_asof`): the point-in-time /
    * feature-store join through [[Snapshots.bucketAlignedAsof]] —
    * purchases ⋈ the LAST click at-or-before each purchase, both
    * sides bucket-clustered on `user_id` and committed sorted with
    * `sortAlso = ts`, so the whole join runs as one (key, time)-
    * ordered streaming pass per bucket: zero Exchange AND zero Sort
    * (`asof_ok` folds both witnesses). Clicks are pre-deduped to
    * unique (user, ts) — as-of ties are inherently arbitrary, the
    * CDC-sequence uniqueness contract. The oracle replays the exact
    * relational definition: max click time ≤ purchase time per
    * purchase, then the click row at that time; unmatched purchases
    * survive NULL-extended (left as-of). The 100 TB story: the
    * planner's range join explodes quadratically and the union +
    * carry-forward twin ([[graft.operators.TemporalJoins]], a1)
    * shuffles both inputs; this streams each bucket once with O(1)
    * task state.
    */
  def u60AlignedAsof(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    asofEntry(s, d, "graft-asof", direction = "backward",
      tolerance = None, okCol = "asof_ok")

  /** Demo + oracle entry (`u62_forward_asof`): the as-of join's OTHER
    * two contracts under the hash gate — `direction = "forward"`
    * (the SMALLEST click time at-or-after each purchase: next-event
    * attribution) bounded by a `tolerance` of 48 hours in the
    * timestamp's native unit (µs — sized so BOTH paths carry weight
    * at every scale factor: the synthetic stream's median next-click
    * gap is ~38 h, so roughly half the purchases match and the stale
    * half NULL-extend): a next click further out is NO
    * match, the pandas-merge_asof staleness contract. Same layout as
    * u60 (both sides (user, ts)-sorted buckets), same zero-Exchange,
    * zero-Sort streaming walk — forward's candidate is the
    * UN-CONSUMED look-ahead row, so the state stays O(1). The oracle
    * replays it relationally: min click time ≥ purchase time within
    * the window, then the click row at that time, NULL-extended
    * beyond the window.
    */
  def u62ForwardAsof(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    asofEntry(s, d, "graft-fasof", direction = "forward",
      tolerance = Some(48L * 3600L * 1000000L), // 48 hours in µs
      okCol = "fwd_ok")

  /** Demo + oracle entry (`u64_sql_aligned_join`): u51's storage-
    * partitioned join reached from PURE SQL (VERDICT r15 task #3) —
    * the two bucket-clustered tables live in the demo catalog and the
    * query is an ordinary `SELECT ... FROM a JOIN b ON a.k = b.k
    * GROUP BY ...`; the [[graft.plans.AlignedJoin]] optimizer rule
    * recognizes the matching bucket layouts and replaces the planner's
    * shuffled join with the zero-Exchange per-bucket zip. Witness
    * `sql_aligned_ok` folds THREE facts: the executed plan carries no
    * join operator at all (the rule fired — a planner join would
    * print SortMergeJoin/BroadcastHashJoin), the shuffle witness over
    * outer + per-bucket inner plans is clean for the join itself, and
    * a disabled-rule rerun (`graft.sql.alignedJoin.enabled=false`)
    * returns identical rows through the planner's join (the rewrite
    * is strategy-only, never semantics).
    */
  def u64SqlAlignedJoin(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.li8")
    s.sql("DROP TABLE IF EXISTS graft_demo.db.ord8")
    Snapshots.cloneShallow(s, bucketedLineitem8(s, d), s"$wh/db/li8")
    val ord = cachedSeed("graft-sqlspj-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d), dir, "overwrite",
        bucketBy = Some(("o_orderkey", 8))))
    Snapshots.cloneShallow(s, ord, s"$wh/db/ord8")
    val sql =
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM graft_demo.db.li8 JOIN graft_demo.db.ord8
        |  ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin
    val joined = s.sql(sql)
    // force planning NOW on this thread: the rule records the
    // per-bucket plans during optimization, and the shuffle witness
    // must not see a later build's recording. The final aggregate
    // above the rewritten join shuffles its GROUPED rows (tiny) —
    // the witness claim is about the JOIN, so it checks the inner
    // per-bucket plans plus the absence of any join operator
    val planStr = joined.queryExecution.executedPlan.toString
    val ruleFired = !planStr.contains("Join")
    val innerShuffleFree = Snapshots.alignedInnerShuffleFree()
    // parity leg: the ALIGNED rows must be collected while the rule
    // is still on (lazy frames re-optimize per execution — comparing
    // two frames inside the off-window would compare the planner
    // with itself); the grouped result is status-cardinality small
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val alignedRows = rows(joined)
    val plannerRows = try {
      s.conf.set("graft.sql.alignedJoin.enabled", "false")
      rows(s.sql(sql))
    } finally s.conf.set("graft.sql.alignedJoin.enabled", "true")
    val ok = if (ruleFired && innerShuffleFree &&
      alignedRows == plannerRows) 1 else 0
    joined.withColumn("sql_aligned_ok", lit(ok).cast("int"))
      .orderBy("o_orderstatus")
  }

  /** Demo + oracle entry (`u65_sql_aligned_agg`): u55's shuffle-free
    * grouped aggregation reached from PURE SQL — the bucket-clustered
    * table lives in the demo catalog and the query is an ordinary
    * `SELECT k, COUNT(*), SUM(...), MIN(...), MAX(...) GROUP BY k`;
    * the [[graft.plans.AlignedAggregate]] optimizer rule recognizes
    * the bucket layout and replaces the planner's two-phase hash
    * aggregate (exchange included) with the per-bucket streaming
    * fold. Witness `sql_agg_ok` folds: no aggregate/exchange operator
    * in the executed plan (the rule fired), exchange-free inner
    * per-bucket plans, a disabled-rule rerun returning identical
    * rows AND schema (strategy-only, planner types exactly), and —
    * r17, closing the r16 weak item — that the ENTRY'S OWN COMPOSED
    * final frame (casts + orderBy, the shape CollapseProject folds
    * into the Aggregate) rides the fold with no table-row aggregate
    * operator, plus a WINDOWED leg (`WHERE price BETWEEN ..` mined
    * exactly into the fold's range window, σ before the fold) with
    * its own fired + planner-parity check.
    */
  def u65SqlAlignedAgg(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.agg16")
    val src = cachedSeed("graft-sqlagg-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_custkey"),
            col("o_totalprice").cast("decimal(18,2)").as("price"),
            col("o_orderkey").as("okey")),
        dir, "overwrite", bucketBy = Some(("o_custkey", 16))))
    Snapshots.cloneShallow(s, src, s"$wh/db/agg16")
    // AVG (r18): an integral AVG rides the decomposed sum+count folds
    // with the division re-applied above — integral (exact-sum) AVG
    // is bit-stable across engines, so it is the oracle-facing item;
    // decimal AVG parity is spec-pinned (AlignedAggregateRuleSpec)
    val sql =
      """SELECT o_custkey AS k, COUNT(*) AS n, SUM(price) AS total,
        |  MIN(price) AS lo, MAX(price) AS hi, AVG(okey) AS ap
        |FROM graft_demo.db.agg16 GROUP BY o_custkey""".stripMargin
    val agg = s.sql(sql)
    val plan = agg.queryExecution.executedPlan.toString
    val ruleFired = !plan.contains("Aggregate") && !plan.contains("Exchange")
    val innerOk = Snapshots.alignedInnerShuffleFree()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val alignedRows = rows(agg)
    val alignedSchema = agg.schema
    // the COMPOSED final frame — casts + orderBy, the analyst shape
    // CollapseProject folds into the Aggregate — must ALSO ride the
    // fold (the r16 weak item: only the bare witness leg fired while
    // the entry's own returned query executed the planner's shuffled
    // two-phase aggregate). The orderBy's range exchange moves
    // GROUPED rows only; the witness is about the table-row
    // aggregate, hence the HashAggregate check.
    val composed = agg.select(col("k"), col("n"),
        col("total").cast("double").as("total"),
        col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi"),
        col("ap"))
      .orderBy("k")
    val composedFired = {
      val p = composed.queryExecution.executedPlan.toString
      !p.contains("HashAggregate") && !p.contains("SortAggregate") &&
        !p.contains("ObjectHashAggregate")
    }
    // windowed leg (r17 filter-through): a BETWEEN WHERE below the
    // GROUP BY mines exactly into the fold's range window — σ before
    // the fold, zero Exchange — with its own planner-parity check
    val sqlW =
      """SELECT o_custkey AS k, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM graft_demo.db.agg16
        |WHERE price BETWEEN 100.00 AND 50000.00
        |GROUP BY o_custkey""".stripMargin
    val windowed = s.sql(sqlW)
    val wPlan = windowed.queryExecution.executedPlan.toString
    val windowedFired =
      !wPlan.contains("Aggregate") && !wPlan.contains("Exchange")
    val windowedRows = rows(windowed)
    val (plannerRows, plannerSchema, plannerWRows) = try {
      s.conf.set("graft.sql.alignedAgg.enabled", "false")
      val p = s.sql(sql)
      (rows(p), p.schema, rows(s.sql(sqlW)))
    } finally s.conf.set("graft.sql.alignedAgg.enabled", "true")
    val ok = if (ruleFired && innerOk && composedFired && windowedFired &&
      alignedRows == plannerRows && alignedSchema == plannerSchema &&
      windowedRows == plannerWRows && windowedRows.nonEmpty) 1 else 0
    composed.withColumn("sql_agg_ok", lit(ok).cast("int")).orderBy("k")
  }

  /** Demo + oracle entry (`u63_windowed_asof`): the RANGE-WINDOWED
    * as-of join (VERDICT r15 task #2) — the query every real
    * feature-store lookup carries: purchases IN A TIME WINDOW matched
    * against the last click at-or-before each purchase, the click
    * ALSO restricted to the window (`leftRanges`/`rightRanges` on the
    * aligned as-of). Both sides are committed in THREE date-sliced
    * sorted-bucketed commits with `ts` footer stats, so each bucket
    * holds one file per slice with a tight time range — the aligned
    * read intersects each bucket's file list with the manifest-stat
    * pruning ([[Snapshots.pruneFiles]]) and scans only the
    * overlapping slices, while the same BETWEEN predicate rides each
    * scan as a row filter (exact where stats are conservative). The
    * witnesses: `win_ok` folds zero-Exchange ∧ zero-Sort ∧ a STRICT
    * plan-count check ([[Snapshots.alignedPlanCount]] — one plan per
    * scanned file on the sorted layout, so fewer plans than total
    * files proves files were actually skipped, measured on the
    * execution, not re-derived from the stats). The 100 TB story: a
    * 30-day window over a years-deep co-clustered feature store
    * reads 30 days of files per bucket, still with zero network.
    */
  def u63WindowedAsof(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val slice1 = java.sql.Timestamp.valueOf("2024-01-11 00:00:00")
    val slice2 = java.sql.Timestamp.valueOf("2024-01-21 00:00:00")
    def sliced(df: org.apache.spark.sql.DataFrame, tsCol: String,
               dir: String, bucketKey: String): Unit = {
      val cuts = Seq(
        col(tsCol) < lit(slice1),
        col(tsCol) >= lit(slice1) && col(tsCol) < lit(slice2),
        col(tsCol) >= lit(slice2))
      cuts.zipWithIndex.foreach { case (p, i) =>
        Snapshots.commit(df.filter(p), dir,
          if (i == 0) "overwrite" else "append",
          bucketBy = Some((bucketKey, 8)),
          sortBuckets = true, sortAlso = Seq(tsCol),
          statsColumns = Seq(tsCol))
      }
    }
    val lhs = cachedSeed("graft-wasof-purchases", d)(dir =>
      sliced(e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("purchase_ts")),
        "purchase_ts", dir, "user_id"))
    val rhs = cachedSeed("graft-wasof-clicks", d)(dir =>
      sliced(e.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("ruid"), col("ts").as("click_ts"))
          .agg(max(col("event_id")).as("click_id")),
        "click_ts", dir, "ruid"))
    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-18 00:00:00")
    val asof = Snapshots.bucketAlignedAsof(s, lhs, rhs,
      "user_id", "ruid", "purchase_ts", "click_ts",
      leftRanges = Seq(("purchase_ts", lo, hi)),
      rightRanges = Seq(("click_ts", lo, hi)))
    val planCount = Snapshots.alignedPlanCount()
    val totalFiles =
      Snapshots.readManifest(s, lhs,
        Snapshots.latestVersion(s, lhs).get).files.size +
      Snapshots.readManifest(s, rhs,
        Snapshots.latestVersion(s, rhs).get).files.size
    val winOk =
      if (Snapshots.alignedShuffleFree(asof) &&
        Snapshots.alignedSortFree(asof) &&
        planCount > 0 && planCount < totalFiles) 1
      else 0
    asof.select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_ts"), col("click_id"))
      .withColumn("win_ok", lit(winOk).cast("int"))
      .orderBy("purchase_id")
  }

  /** Demo + oracle entry (`u61_running_window`): running per-entity
    * aggregates — `agg OVER (PARTITION BY key ORDER BY t RANGE
    * UNBOUNDED PRECEDING..CURRENT ROW)`, SQL's default frame —
    * through [[Snapshots.bucketAlignedRunning]] on an orders table
    * bucket-clustered by customer and committed sorted with
    * `sortAlso = o_orderdate`: each bucket streams once, zero
    * Exchange, zero Sort (`running_ok` folds both witnesses), task
    * memory O(one tie group). RANGE (peer) semantics make ties —
    * several orders of one customer on one date — deterministic:
    * all peers receive the tie group's full running value, which is
    * what the oracle's window replays row for row. The 100 TB
    * story: the planner shuffles the whole fact table on the key
    * and sorts every partition for the same window; this rides the
    * write-side order.
    */
  def u61RunningWindow(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = cachedSeed("graft-running-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_custkey").as("k"), col("o_orderdate").as("t"),
            col("o_orderkey").as("oid"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("k", 8)),
        sortBuckets = true, sortAlso = Seq("t")))
    val run = Snapshots.bucketAlignedRunning(s, dir, "t", Seq(
      ("count", "*", "rn"), ("sum", "price", "rs"),
      ("max", "price", "rmax")))
    val runningOk =
      if (Snapshots.alignedShuffleFree(run) &&
        Snapshots.alignedSortFree(run)) 1
      else 0
    run.select(col("k"), col("t"), col("oid"), col("rn"),
        col("rs").cast("double").as("rs"),
        col("rmax").cast("double").as("rmax"))
      .withColumn("running_ok", lit(runningOk).cast("int"))
      .orderBy("k", "t", "oid")
  }

  /** Demo + oracle entry (`u66_sql_join_family`): the storage-
    * partitioned join FAMILY reached from PURE SQL (VERDICT r16 task
    * #3) — customer and orders co-clustered on the customer key, then
    * the three join shapes every analyst writes:
    *  - `LEFT JOIN` (the retention rollup — customers with zero
    *    orders null-extend), rewritten by the [[graft.plans
    *    .AlignedJoin]] optimizer rule;
    *  - `IN (SELECT ... WHERE price BETWEEN ...)` — a LeftSemi join
    *    with a windowed right side; Spark plants semi/anti joins in
    *    the RewriteSubquery batch AFTER injected optimizer rules run,
    *    so these are served by the [[graft.plans.AlignedJoinStrategy]]
    *    planner strategy, the BETWEEN subquery filter riding the
    *    aligned right scan as its EXACT range window;
    *  - `NOT EXISTS` — a LeftAnti join through the same strategy.
    * Witness `sql_family_ok` folds, for EACH of the three: no join
    * operator in the executed plan (the rewrite fired) and a
    * disabled-rule rerun (`graft.sql.alignedJoin.enabled=false`)
    * returning identical rows through the planner's join (the
    * rewrite is strategy-only, never semantics). The 100 TB story:
    * retention/decontamination/incremental anti-joins between
    * co-clustered fact tables read both in place — zero network
    * bytes, no broadcast of a 10⁹-key build side.
    */
  /** Demo + oracle entry (`u67_sql_join_agg`): the FUSED storage-
    * partitioned join + aggregation reached from PURE SQL (r17) —
    * the 100 TB star query `SELECT k, aggs FROM a JOIN b ON k
    * GROUP BY k` over co-clustered tables, rewritten by
    * [[graft.plans.AlignedJoinAggregate]] to
    * [[Snapshots.bucketAlignedJoinAggregate]]: each bucket
    * merge-joins in key order and folds its complete groups IN THE
    * SAME TASK. Witness `sql_fused_ok` folds the strongest plan
    * claim any entry makes: the executed plan of the BARE SQL frame
    * carries NO join operator, NO aggregate operator and NO
    * Exchange AT ALL — zero shuffle end to end, table rows and
    * grouped rows alike — plus exchange-free inner per-bucket plans
    * and a both-rules-disabled rerun (planner join + planner
    * aggregate) returning identical rows and schema. The select
    * list is deliberately COMPOSED (a cast over SUM) to pin that
    * the fused rewrite serves the analyst shape, not just bare
    * aggregates.
    */
  def u67SqlJoinAgg(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.fcust8")
    s.sql("DROP TABLE IF EXISTS graft_demo.db.fordc8")
    val cust = cachedSeed("graft-sqlfused-cust", d)(dir =>
      Snapshots.commit(graft.Tables.customer(s, d)
          .select(col("c_custkey"), col("c_acctbal")),
        dir, "overwrite", bucketBy = Some(("c_custkey", 8))))
    Snapshots.cloneShallow(s, cust, s"$wh/db/fcust8")
    val ord = cachedSeed("graft-sqlfused-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_custkey"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("o_custkey", 8))))
    Snapshots.cloneShallow(s, ord, s"$wh/db/fordc8")
    val sql =
      """SELECT c_custkey AS k, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  CAST(MAX(price) AS DOUBLE) AS hi
        |FROM graft_demo.db.fcust8 JOIN graft_demo.db.fordc8
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin
    val fused = s.sql(sql)
    val plan = fused.queryExecution.executedPlan.toString
    val ruleFired = !plan.contains("Join") && !plan.contains("Aggregate") &&
      !plan.contains("Exchange")
    val innerOk = Snapshots.alignedInnerShuffleFree()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val fusedRows = rows(fused)
    val fusedSchema = fused.schema
    // windowed star leg (r17): an exactly-minable BETWEEN below the
    // join rides the fused operator's pre-join range window — σ
    // before the fold, still zero Exchange end to end
    val sqlW =
      """SELECT c_custkey AS k, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM graft_demo.db.fcust8 JOIN graft_demo.db.fordc8
        |  ON c_custkey = o_custkey
        |WHERE price BETWEEN 1000.00 AND 150000.00
        |GROUP BY c_custkey""".stripMargin
    val windowed = s.sql(sqlW)
    val wPlan = windowed.queryExecution.executedPlan.toString
    val windowedFired = !wPlan.contains("Join") &&
      !wPlan.contains("Aggregate") && !wPlan.contains("Exchange")
    val windowedRows = rows(windowed)
    val (plannerRows, plannerSchema, plannerWRows) = try {
      s.conf.set("graft.sql.alignedJoinAgg.enabled", "false")
      s.conf.set("graft.sql.alignedJoin.enabled", "false")
      val p = s.sql(sql)
      require(p.queryExecution.executedPlan.toString.contains("Join"),
        "the disable switches must restore the planner's join")
      (rows(p), p.schema, rows(s.sql(sqlW)))
    } finally {
      s.conf.set("graft.sql.alignedJoinAgg.enabled", "true")
      s.conf.set("graft.sql.alignedJoin.enabled", "true")
    }
    val ok = if (ruleFired && innerOk && windowedFired &&
      fusedRows == plannerRows && fusedSchema == plannerSchema &&
      windowedRows == plannerWRows && windowedRows.nonEmpty &&
      fusedRows.nonEmpty) 1 else 0
    fused.withColumn("sql_fused_ok", lit(ok).cast("int")).orderBy("k")
  }

  def u66SqlJoinFamily(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.cust8")
    s.sql("DROP TABLE IF EXISTS graft_demo.db.ordc8")
    val cust = cachedSeed("graft-sqlfam-cust", d)(dir =>
      Snapshots.commit(graft.Tables.customer(s, d), dir, "overwrite",
        bucketBy = Some(("c_custkey", 8))))
    Snapshots.cloneShallow(s, cust, s"$wh/db/cust8")
    val ord = cachedSeed("graft-sqlfam-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d), dir, "overwrite",
        bucketBy = Some(("o_custkey", 8))))
    Snapshots.cloneShallow(s, ord, s"$wh/db/ordc8")
    val outerSql =
      """SELECT c.c_mktsegment, COUNT(o.o_orderkey) AS n_orders,
        |  COUNT(*) AS n_rows
        |FROM graft_demo.db.cust8 c LEFT JOIN graft_demo.db.ordc8 o
        |  ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_mktsegment""".stripMargin
    val semiSql =
      """SELECT COUNT(*) AS with_window FROM graft_demo.db.cust8
        |WHERE c_custkey IN (SELECT o_custkey FROM graft_demo.db.ordc8
        |  WHERE o_totalprice BETWEEN 1000.0 AND 150000.0)""".stripMargin
    val antiSql =
      """SELECT COUNT(*) AS no_orders FROM graft_demo.db.cust8 c
        |WHERE NOT EXISTS (SELECT 1 FROM graft_demo.db.ordc8 o
        |  WHERE o.o_custkey = c.c_custkey)""".stripMargin
    // per query: the rewrite fired (no join operator in the executed
    // plan) AND a disabled-rule rerun matches rows — collected while
    // the rule is ON (lazy frames re-optimize per execution)
    def leg(sql: String): (Seq[String], Boolean, Option[Long]) = {
      val q = s.sql(sql)
      val fired = !q.queryExecution.executedPlan.toString.contains("Join")
      val rows = q.collect()
      // the scalar legs' single count rides the SAME collect the
      // parity check needs — re-running the query just to read it
      // again would execute the aligned join a third time (r18);
      // non-scalar shapes yield None so a consumer that EXPECTS a
      // scalar fails loudly (ADVICE r18) instead of riding a sentinel
      // into the output columns
      val scalar = if (rows.length == 1 && rows.head.size == 1)
        Some(rows.head.getLong(0)) else None
      (rows.map(_.toString).toSeq.sorted, fired, scalar)
    }
    val (outerRows, outerFired, _) = leg(outerSql)
    val (semiRows, semiFired, withWindow) = leg(semiSql)
    val (antiRows, antiFired, noOrders) = leg(antiSql)
    val (pOuter, pSemi, pAnti) = try {
      s.conf.set("graft.sql.alignedJoin.enabled", "false")
      def planner(sql: String): Seq[String] = {
        val q = s.sql(sql)
        require(q.queryExecution.executedPlan.toString.contains("Join"),
          "the disable switch must restore the planner's join")
        q.collect().map(_.toString).toSeq.sorted
      }
      (planner(outerSql), planner(semiSql), planner(antiSql))
    } finally s.conf.set("graft.sql.alignedJoin.enabled", "true")
    val ok = if (outerFired && semiFired && antiFired &&
      outerRows == pOuter && semiRows == pSemi && antiRows == pAnti) 1 else 0
    // the scalar counts attach as literals (already collected for the
    // parity checks), so the ENTRY'S OWN final plan is the rewritten
    // outer rollup alone — no join operator anywhere in it
    def requireScalar(v: Option[Long], which: String): Long = v.getOrElse(
      throw new IllegalStateException(
        s"$which leg did not return a 1×1 scalar — query shape changed"))
    s.sql(outerSql)
      .withColumn("with_window", lit(requireScalar(withWindow, "semi")))
      .withColumn("no_orders", lit(requireScalar(noOrders, "anti")))
      .withColumn("sql_family_ok", lit(ok).cast("int"))
      .orderBy("c_mktsegment")
  }

  /** Demo + oracle entry (`u69_composite_agg`): COMPOSITE-KEY aligned
    * aggregation from PURE SQL (VERDICT r17 task #5) — the
    * per-entity-per-day rollup every fact table serves: `GROUP BY
    * o_custkey, day` over a table bucket-clustered on `o_custkey` and
    * committed composite-sorted (`sortAlso = day`). Co-location holds
    * whatever else the grouping tuple carries — every row of a key
    * lives in the key's bucket — so the r18 [[graft.plans
    * .AlignedAggregate]] widening routes the non-key attribute
    * through the operator's `groupAlso`: one streaming fold per
    * distinct (key, day) tuple, and the composite sort markers make
    * it SORT-FREE on top of shuffle-free. Witness `comp_ok` folds:
    * no aggregate operator and no Exchange in the bare frame's plan,
    * exchange-free AND sort-free inner per-bucket plans
    * ([[Snapshots.alignedSortFree]] — the skip-sort tree-merge
    * path), and a disabled-rule planner rerun matching rows and
    * schema. At 100 TB the planner shuffles the whole fact table for
    * this shape; the aligned fold reads each bucket once, in order.
    */
  def u69CompositeAgg(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.cagg8")
    val src = cachedSeed("graft-cagg-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderdate").as("day"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("o_custkey", 8)),
        sortBuckets = true, sortAlso = Seq("day")))
    Snapshots.cloneShallow(s, src, s"$wh/db/cagg8")
    val sql =
      """SELECT o_custkey AS k, day, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM graft_demo.db.cagg8 GROUP BY o_custkey, day""".stripMargin
    val bare = s.sql(sql)
    val plan = bare.queryExecution.executedPlan.toString
    val ruleFired = !plan.contains("Aggregate") && !plan.contains("Exchange")
    // the composite-sorted layout serves the tuple fold with zero
    // Sort anywhere — outer plan and per-bucket inner plans alike
    val sortFree = Snapshots.alignedSortFree(bare)
    val innerOk = Snapshots.alignedInnerShuffleFree()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val alignedRows = rows(bare)
    val alignedSchema = bare.schema
    val (plannerRows, plannerSchema) = try {
      s.conf.set("graft.sql.alignedAgg.enabled", "false")
      val p = s.sql(sql)
      require(p.queryExecution.executedPlan.toString.contains("Aggregate"),
        "the disable switch must restore the planner's aggregate")
      (rows(p), p.schema)
    } finally s.conf.set("graft.sql.alignedAgg.enabled", "true")
    val ok = if (ruleFired && sortFree && innerOk &&
      alignedRows == plannerRows && alignedSchema == plannerSchema &&
      alignedRows.nonEmpty) 1 else 0
    bare.withColumn("comp_ok", lit(ok).cast("int")).orderBy("k", "day")
  }

  /** Demo + oracle entry (`u71_sql_running`): the RUNNING WINDOW from
    * PURE SQL (r18, VERDICT r17 stretch #9) — u61's per-entity
    * running aggregates written as an ordinary `agg OVER (PARTITION
    * BY k ORDER BY t)` (SQL's default RANGE frame) over a catalog
    * table bucket-clustered on `k` and committed composite-sorted
    * (`sortAlso = t`). The [[graft.plans.AlignedRunning]] rule
    * replaces the planner's WindowExec — which shuffles the WHOLE
    * table on the key and sorts every partition — with
    * [[Snapshots.bucketAlignedRunning]]'s per-bucket streaming fold.
    * Witness `run_ok` folds: no Window operator and no Exchange in
    * the bare frame's plan, SORT-free inner per-bucket plans (the
    * composite markers' skip-sort path), and a disabled-rule planner
    * rerun matching rows and schema. At 100 TB this is the dashboard
    * "cumulative per customer" query reading the table in place.
    */
  def u71SqlRunning(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.run8")
    val src = cachedSeed("graft-sqlrun-orders", d)(dir =>
      Snapshots.commit(graft.Tables.orders(s, d)
          .select(col("o_custkey").as("k"), col("o_orderdate").as("t"),
            col("o_orderkey").as("oid"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("k", 8)),
        sortBuckets = true, sortAlso = Seq("t")))
    Snapshots.cloneShallow(s, src, s"$wh/db/run8")
    val sql =
      """SELECT k, t, oid, COUNT(*) OVER w AS rn,
        |  SUM(price) OVER w AS rs, MAX(price) OVER w AS rmax
        |FROM graft_demo.db.run8
        |WINDOW w AS (PARTITION BY k ORDER BY t)""".stripMargin
    val bare = s.sql(sql)
    val plan = bare.queryExecution.executedPlan.toString
    val ruleFired = !plan.contains("Window") && !plan.contains("Exchange")
    val sortFree = Snapshots.alignedSortFree(bare)
    val innerOk = Snapshots.alignedInnerShuffleFree()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val alignedRows = rows(bare)
    val alignedSchema = bare.schema
    val (plannerRows, plannerSchema) = try {
      s.conf.set("graft.sql.alignedRunning.enabled", "false")
      val p = s.sql(sql)
      require(p.queryExecution.executedPlan.toString.contains("Window"),
        "the disable switch must restore the planner's window")
      (rows(p), p.schema)
    } finally s.conf.set("graft.sql.alignedRunning.enabled", "true")
    val ok = if (ruleFired && sortFree && innerOk &&
      alignedRows == plannerRows && alignedSchema == plannerSchema &&
      alignedRows.nonEmpty) 1 else 0
    bare.select(col("k"), col("t"), col("oid"), col("rn"),
        col("rs").cast("double").as("rs"),
        col("rmax").cast("double").as("rmax"))
      .withColumn("run_ok", lit(ok).cast("int"))
      .orderBy("k", "t", "oid")
  }

  /** Demo + oracle entry (`u70_sql_full_outer`): the FULL OUTER
    * aligned join from PURE SQL (VERDICT r17 task #7) — the
    * snapshot-reconciliation shape: two keyed slices of a fact table
    * FULL JOINed to classify every key as a_only / b_only / both.
    * The r18 leg runs in [[Snapshots.bucketAlignedJoin]]'s per-bucket
    * zip with BOTH sides null-extending (merge path: a symmetric
    * sorted merge; hash path: matched-key tracking + a lazy unmatched
    * remainder), reached by the [[graft.plans.AlignedJoin]] rule —
    * which hoists NEITHER side's filters over full outer, so the
    * slice predicates live in the committed tables, not the query.
    * Witness `full_ok` folds: no join operator in the executed plan,
    * exchange-free inner per-bucket plans, and a disabled-rule rerun
    * matching rows and schema. The rollup above moves three grouped
    * rows. At 100 TB: day-over-day reconciliation of co-clustered
    * snapshots reads both in place — zero network for table rows.
    */
  def u70SqlFullOuter(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.foa8")
    s.sql("DROP TABLE IF EXISTS graft_demo.db.fob8")
    val orders = graft.Tables.orders(s, d)
    val a = cachedSeed("graft-fo-a", d)(dir =>
      Snapshots.commit(orders.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").as("okey"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
        dir, "overwrite", bucketBy = Some(("okey", 8))))
    Snapshots.cloneShallow(s, a, s"$wh/db/foa8")
    val b = cachedSeed("graft-fo-b", d)(dir =>
      Snapshots.commit(orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("bkey"),
            col("o_totalprice").cast("decimal(18,2)").as("bprice")),
        dir, "overwrite", bucketBy = Some(("bkey", 8))))
    Snapshots.cloneShallow(s, b, s"$wh/db/fob8")
    val sql =
      """SELECT CASE WHEN a.okey IS NULL THEN 'b_only'
        |       WHEN b.bkey IS NULL THEN 'a_only' ELSE 'both' END AS side,
        |  COUNT(*) AS n,
        |  CAST(SUM(COALESCE(a.price, CAST(0 AS DECIMAL(18,2))) +
        |           COALESCE(b.bprice, CAST(0 AS DECIMAL(18,2))))
        |    AS DOUBLE) AS total
        |FROM graft_demo.db.foa8 a FULL JOIN graft_demo.db.fob8 b
        |  ON a.okey = b.bkey
        |GROUP BY 1""".stripMargin
    val recon = s.sql(sql)
    val planStr = recon.queryExecution.executedPlan.toString
    val ruleFired = !planStr.contains("Join")
    val innerOk = Snapshots.alignedInnerShuffleFree()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val alignedRows = rows(recon)
    val alignedSchema = recon.schema
    val (plannerRows, plannerSchema) = try {
      s.conf.set("graft.sql.alignedJoin.enabled", "false")
      val q = s.sql(sql)
      require(q.queryExecution.executedPlan.toString.contains("Join"),
        "the disable switch must restore the planner's join")
      (rows(q), q.schema)
    } finally s.conf.set("graft.sql.alignedJoin.enabled", "true")
    // all three reconciliation classes must be present, or the
    // fixture is vacuous
    val sides = alignedRows.size == 3
    val ok = if (ruleFired && innerOk && sides &&
      alignedRows == plannerRows && alignedSchema == plannerSchema) 1
    else 0
    recon.withColumn("full_ok", lit(ok).cast("int")).orderBy("side")
  }

  /** Demo + oracle entry (`u68_sql_join_residual`): MULTI-CONJUNCT
    * join conditions through the SQL aligned rewrite (VERDICT r17
    * task #4) — the attribution shape every event pipeline writes:
    * purchases ⋈ clicks `ON p.user_id = c.cuid AND c.cts <= p.pts`
    * (how many clicks preceded each user's purchases). The r18
    * [[graft.plans.AlignedJoin]] picks the bucket-key equality as the
    * per-bucket zip key and re-applies the non-equi residual as a
    * Filter above the replacement — sound for INNER (σ_res(A ⋈_k B)
    * ≡ A ⋈_{k ∧ res} B). Witness `residual_ok` folds: no join
    * operator in the executed plan (the rewrite fired through the
    * composite condition), exchange-free inner per-bucket plans, and
    * a disabled-rule rerun returning identical rows through the
    * planner's join. The grouped rollup above moves grouped rows
    * only. At 100 TB: a time-ordered attribution join between
    * co-clustered event tables reads both in place — the residual
    * costs a per-row comparison, never a shuffle.
    */
  def u68SqlJoinResidual(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = demoWarehouse(s)
    s.sql("DROP TABLE IF EXISTS graft_demo.db.rp8")
    s.sql("DROP TABLE IF EXISTS graft_demo.db.rc8")
    val e = graft.Tables.events(s, d)
    val p = cachedSeed("graft-resid-purchases", d)(dir =>
      Snapshots.commit(e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            col("ts").as("pts")),
        dir, "overwrite", bucketBy = Some(("user_id", 8))))
    Snapshots.cloneShallow(s, p, s"$wh/db/rp8")
    val c = cachedSeed("graft-resid-clicks", d)(dir =>
      Snapshots.commit(e.filter(col("event_type") === "click")
          .select(col("event_id").as("cid"), col("user_id").as("cuid"),
            col("ts").as("cts")),
        dir, "overwrite", bucketBy = Some(("cuid", 8))))
    Snapshots.cloneShallow(s, c, s"$wh/db/rc8")
    val sql =
      """SELECT p.user_id, COUNT(*) AS n_prior_clicks
        |FROM graft_demo.db.rp8 p JOIN graft_demo.db.rc8 c
        |  ON p.user_id = c.cuid AND c.cts <= p.pts
        |GROUP BY p.user_id""".stripMargin
    val joined = s.sql(sql)
    val planStr = joined.queryExecution.executedPlan.toString
    val ruleFired = !planStr.contains("Join")
    val innerOk = Snapshots.alignedInnerShuffleFree()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val alignedRows = rows(joined)
    val plannerRows = try {
      s.conf.set("graft.sql.alignedJoin.enabled", "false")
      val q = s.sql(sql)
      require(q.queryExecution.executedPlan.toString.contains("Join"),
        "the disable switch must restore the planner's join")
      rows(q)
    } finally s.conf.set("graft.sql.alignedJoin.enabled", "true")
    val ok = if (ruleFired && innerOk && alignedRows == plannerRows &&
      alignedRows.nonEmpty) 1 else 0
    joined.withColumn("residual_ok", lit(ok).cast("int"))
      .orderBy("user_id")
  }
}
