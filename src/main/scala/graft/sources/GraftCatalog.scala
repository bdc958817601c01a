package graft.sources

import java.util.{Collections => JCollections, Map => JMap, Set => JSet}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** A persistent named catalog over a warehouse of graft tables:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft-warehouse
  * }}}
  *
  * after which `CREATE TABLE graft.db.t (...) USING graft
  * [PARTITIONED BY (...)]`, `SHOW TABLES IN graft.db`, name-based
  * reads/writes, and the SQL DML surface all work by NAME and survive
  * sessions — the durable-named-warehouse role the reference's
  * profiles.yml plays (`dbt_project/profiles.yml:4-7`). The registry
  * IS the directory layout (`warehouse/<db>/<table>/_manifests`), so
  * there is no second metadata store to drift from the tables: a dir
  * with a manifest is a table, discoverability is one listing, and
  * concurrent `CREATE TABLE` races collapse into the manifest CAS.
  *
  * Reads stay on the V1 relation: [[graft.plans.GraftSqlDml.V2ToV1]]
  * swaps the DSv2 relation this catalog resolves to for the
  * [[GraftRelation]] scan (same exprIds — references stay bound), so
  * name-based access gets the same vectorized parquet path, manifest
  * pruning, DV masking, ledger counts and DML rules as path-based.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def fs = warehouse.getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def nsDir(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)((p, n) => new Path(p, n))

  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace()), ident.name())

  private def isTable(p: Path): Boolean =
    fs.exists(new Path(p, "_manifests"))

  /** Dot-prefixed dirs are NEVER part of the registry: they hold
    * in-flight staging copies (see [[newStagingDir]]) and must not
    * surface from SHOW TABLES / SHOW NAMESPACES while half-written.
    */
  private def isHidden(p: Path): Boolean = p.getName.startsWith(".")

  /** Partition transforms → (identity partition columns, optional
    * bucket spec) — shared by CREATE TABLE and the staged REPLACE
    * path. `PARTITIONED BY (status, bucket(8, o_orderkey))` is the
    * SQL spelling of the composed partition × bucket layout: `k=v/`
    * dirs for range/equality pruning × hash-clustered key buckets
    * within each dir for point-lookup/MERGE pruning.
    */
  private[graft] def layoutOf(partitions: Seq[Transform])
      : (Seq[String], Option[(String, Int)]) = {
    val (bucketTs, idTs) = partitions.partition(_.name == "bucket")
    val partCols = idTs.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      // hidden-partitioning transforms — encoded into the same spec
      // strings the Scala `commit(partitionBy)` takes (see
      // [[PartitionTransforms]]): `PARTITIONED BY (months(o_orderdate),
      // truncate(4, p_name))` from pure SQL
      case t if Set("years", "months", "days", "hours").contains(t.name) &&
          t.references.length == 1 =>
        s"${t.name}(${t.references.head.fieldNames.mkString(".")})"
      case t if t.name == "truncate" && t.references.length == 1 =>
        val w = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value.isInstanceOf[Number] =>
            l.value.asInstanceOf[Number].intValue
        }.getOrElse(throw new UnsupportedOperationException(
          s"truncate transform needs an integer width: $t"))
        s"truncate($w, ${t.references.head.fieldNames.mkString(".")})"
      case other => throw new UnsupportedOperationException(
        "graft tables support identity/years/months/days/hours/truncate " +
          "partitioning plus at most one " +
          s"bucket(n, col) transform, got $other")
    }
    require(bucketTs.size <= 1,
      s"at most one bucket(n, col) transform, got ${bucketTs.size}")
    val bucket = bucketTs.headOption.map { t =>
      require(t.references.length == 1,
        s"bucket transform must name exactly one column, got $t")
      val n = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value.isInstanceOf[Number] =>
          l.value.asInstanceOf[Number].intValue
      }.getOrElse(throw new UnsupportedOperationException(
        s"bucket transform needs an integer bucket count: $t"))
      (t.references.head.fieldNames.mkString("."), n)
    }
    (partCols, bucket)
  }

  /** A fresh dot-prefixed sibling dir for an atomic REPLACE TABLE AS
    * SELECT: the replacement is fully written here first, so a SELECT
    * that fails mid-write leaves the original table (and its whole
    * version history) untouched, and a half-written replacement can
    * never be discovered as a table (dot-dirs are registry-invisible).
    */
  private[graft] def newStagingDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace()),
      s".${ident.name()}.staging-${java.util.UUID.randomUUID().toString.take(8)}")

  /** The commit point of a staged REPLACE: move the old table dir
    * ASIDE (another hidden dot-dir), rename the fully-written staging
    * dir into place, then drop the aside copy. The old table is never
    * DELETED before the replacement is live: if the staging rename
    * fails mid-swap, the aside copy is restored — at every step a
    * recoverable copy of the original history exists.
    */
  private[graft] def promoteStaging(ident: Identifier, staging: Path): Unit = {
    val dir = tableDir(ident)
    val aside = new Path(nsDir(ident.namespace()),
      s".${ident.name()}.replaced-${java.util.UUID.randomUUID().toString.take(8)}")
    if (fs.exists(dir) && !fs.rename(dir, aside))
      throw new IllegalStateException(s"could not move $dir aside for REPLACE")
    if (!fs.rename(staging, dir)) {
      if (fs.exists(aside)) fs.rename(aside, dir) // restore the original
      throw new IllegalStateException(s"rename $staging -> $dir failed" +
        "; the original table was restored")
    }
    fs.delete(aside, true); ()
  }

  private[graft] def discardStaging(staging: Path): Unit = {
    fs.delete(staging, true); ()
  }

  /** Crash recovery for the staged-REPLACE swap: a driver death
    * between [[promoteStaging]]'s two renames leaves the original
    * table only as a hidden `.<name>.replaced-*` sibling with no live
    * table dir, which nothing would otherwise restore. Every name
    * resolution that finds the table ABSENT first checks for such an
    * orphaned aside and renames the newest one back into place, so an
    * interrupted REPLACE can delay but never lose a table. Recovery
    * only fires when no live table dir exists — it can resurrect, not
    * clobber; if it races a REPLACE mid-swap, that REPLACE's staging
    * rename fails and its statement errors with the original intact.
    */
  private def recoverReplaced(ident: Identifier): Unit = {
    val dir = tableDir(ident)
    if (isTable(dir)) return
    val ns = nsDir(ident.namespace())
    val prefix = s".${ident.name()}.replaced-"
    if (!fs.exists(ns)) return
    val asides = fs.listStatus(ns).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith(prefix))
    if (asides.nonEmpty && !fs.exists(dir)) {
      val newest = asides.maxBy(_.getModificationTime).getPath
      if (fs.rename(newest, dir))
        System.err.println(s"[graft] recovered table $dir from " +
          s"interrupted REPLACE (aside copy $newest)")
    }
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!fs.exists(d)) throw new NoSuchNamespaceException(
      name() +: namespace)
    // surface tables stranded by an interrupted REPLACE before listing
    fs.listStatus(d).iterator
      .filter(st => st.isDirectory && isHidden(st.getPath))
      .map(_.getPath.getName.drop(1))
      .filter(_.contains(".replaced-"))
      .map(n => n.substring(0, n.lastIndexOf(".replaced-")))
      .toSet[String]
      .foreach(t => recoverReplaced(Identifier.of(namespace, t)))
    fs.listStatus(d).iterator
      .filter(st => st.isDirectory && !isHidden(st.getPath) &&
        isTable(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    recoverReplaced(ident)
    isTable(tableDir(ident))
  }

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** `SELECT ... FROM cat.db.t VERSION AS OF n` — SQL time travel by
    * name, resolved here and pinned into the table handle (the
    * [[graft.plans.GraftCatalogRules.V2ToV1]] swap passes the pin to
    * the relation).
    */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.trim.toLong))

  /** `TIMESTAMP AS OF` arrives as epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      recoverReplaced(ident)
      if (!isTable(dir)) throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    }
    loadAt(ident, Some(Snapshots.versionAsOf(
      spark, dir.toString, timestampMicros / 1000L)))
  }

  private def loadAt(ident: Identifier, version: Option[Long]): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      recoverReplaced(ident)
      if (!isTable(dir)) throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    }
    val v = version.orElse(
      Snapshots.latestLiveVersion(spark, dir.toString)).getOrElse(
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq))
    val m = Snapshots.readManifest(spark, dir.toString, v)
    GraftCatalogTable(ident, dir.toString, m.schema, m.partitionCols, version,
      m.bucketSpec)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(
      (ident.namespace() :+ ident.name()).toSeq)
    if (!fs.exists(nsDir(ident.namespace())))
      throw new NoSuchNamespaceException(name() +: ident.namespace())
    val (partCols, bucketSpec) = layoutOf(partitions.toSeq)
    Snapshots.createEmpty(spark, dir.toString, schema, partCols, bucketSpec)
    GraftCatalogTable(ident, dir.toString, schema, partCols,
      bucketSpec = bucketSpec)
  }

  /** `ALTER TABLE ... ADD COLUMNS / ALTER COLUMN c TYPE wider /
    * RENAME COLUMN a TO b / DROP COLUMN c`: all metadata-only
    * snapshot commits ([[Snapshots.addColumns]] /
    * [[Snapshots.widenColumn]] / [[Snapshots.renameColumn]] /
    * [[Snapshots.dropColumn]]) — existing files read NULL for new
    * nullable fields, read widened types in place, and read
    * renamed/dropped columns through the COLUMN MAPPING (physical
    * on-file names never change; a dropped name's bytes are retired
    * and can never resurface under a re-added column). Other change
    * kinds are refused (non-widening type changes are rewrites;
    * constraints go through `CALL <cat>.system.add_check`).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val widens = changes.collect { case u: TableChange.UpdateColumnType => u }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    require(adds.size + widens.size + renames.size + drops.size == changes.size,
      "graft ALTER TABLE supports ADD COLUMNS, ALTER COLUMN TYPE " +
        "(lossless widening), RENAME COLUMN and DROP COLUMN; got " +
        changes.filterNot(c => adds.contains(c) ||
          widens.exists(_ eq c) || renames.exists(_ eq c) ||
          drops.exists(_ eq c)).mkString(", "))
    val fields = adds.map { a =>
      require(a.fieldNames.length == 1,
        s"only top-level columns can be added, got ${a.fieldNames.mkString(".")}")
      org.apache.spark.sql.types.StructField(
        a.fieldNames.head, a.dataType, nullable = true)
    }
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(
      (ident.namespace() :+ ident.name()).toSeq)
    if (fields.nonEmpty) Snapshots.addColumns(spark, dir.toString, fields)
    widens.foreach { u =>
      require(u.fieldNames().length == 1,
        s"only top-level columns can be widened, got ${u.fieldNames().mkString(".")}")
      Snapshots.widenColumn(spark, dir.toString,
        u.fieldNames().head, u.newDataType())
    }
    renames.foreach { r =>
      require(r.fieldNames().length == 1,
        s"only top-level columns can be renamed, got ${r.fieldNames().mkString(".")}")
      Snapshots.renameColumn(spark, dir.toString,
        r.fieldNames().head, r.newName())
    }
    drops.foreach { dcol =>
      require(dcol.fieldNames().length == 1,
        s"only top-level columns can be dropped, got ${dcol.fieldNames().mkString(".")}")
      Snapshots.dropColumn(spark, dir.toString, dcol.fieldNames().head)
    }
    loadTable(ident)
  }

  /** Remove `.name.replaced-*` aside dirs for `ident`. An aside left
    * by a crash inside [[promoteStaging]]'s commit window (after the
    * staging rename, before the aside delete) is STALE the moment a
    * live table dir exists — the REPLACE succeeded. When the live dir
    * is then intentionally removed (DROP) or moved (RENAME), a stale
    * aside must not survive it: [[recoverReplaced]] fires on any
    * resolution that finds the name absent and would resurrect the
    * dropped table as its pre-REPLACE contents.
    */
  private def purgeAsides(ident: Identifier): Unit = {
    val ns = nsDir(ident.namespace())
    if (!fs.exists(ns)) return
    val prefix = s".${ident.name()}.replaced-"
    fs.listStatus(ns).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .foreach(st => fs.delete(st.getPath, true))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else {
      val ok = fs.delete(dir, true)
      // the live dir existed, so any aside was stale — a DROP must
      // not be undone by crash-recovery restoring pre-REPLACE bytes
      if (ok) purgeAsides(ident)
      ok
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    val to = tableDir(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(
      (oldIdent.namespace() :+ oldIdent.name()).toSeq)
    if (isTable(to)) throw new TableAlreadyExistsException(
      (newIdent.namespace() :+ newIdent.name()).toSeq)
    if (!fs.rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
    // same staleness argument as dropTable: `from` was live, so any
    // old-name aside was a dead REPLACE artifact — without this purge
    // the next resolution of the OLD name would resurrect it
    purgeAsides(oldIdent)
  }

  // ---- procedures (the SQL maintenance surface) ----

  /** Resolve a procedure's `table` argument (`'db.t'` or `'t'`,
    * within this catalog) to the table's directory.
    */
  private[sources] def dirOf(qualified: String): String = {
    val parts = qualified.split('.')
    val ident = Identifier.of(parts.init, parts.last)
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      recoverReplaced(ident)
      if (!isTable(dir)) throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    }
    dir.toString
  }

  /** `CALL <cat>.system.<proc>(...)` — OPTIMIZE/VACUUM-class table
    * maintenance for SQL-only operators; see [[GraftProcedures]].
    */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector
      .catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"procedures live under ${name()}.system, got ${ident.namespace().mkString(".")}")
    GraftProcedures.load(this, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name()}'; known: " +
          GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse).iterator
      .filter(st => st.isDirectory && !isHidden(st.getPath) &&
        !isTable(st.getPath))
      .map(st => Array(st.getPath.getName))
      .toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(name() +: namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(nsDir(namespace)) && !isTable(nsDir(namespace)))

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace)
    JCollections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(name() +: namespace)
    fs.mkdirs(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!namespaceExists(namespace) || namespace.isEmpty) false
    else if (!cascade && fs.listStatus(d).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    else fs.delete(d, true)
  }
}

/** The catalog's Table handle: pure metadata (name, schema, partition
  * spec, path). It deliberately implements NO read/write capability —
  * [[graft.plans.GraftSqlDml.V2ToV1]] swaps its relation for the V1
  * [[GraftRelation]] during resolution, which carries the whole
  * serving surface.
  */
final case class GraftCatalogTable(ident: Identifier, dir: String,
                                   tableSchema: StructType,
                                   partitionCols: Seq[String],
                                   versionAsOf: Option[Long] = None,
                                   bucketSpec: Option[(String, Int)] = None)
    extends Table {
  override def name(): String = ident.toString
  override def schema(): StructType = tableSchema
  override def capabilities(): JSet[TableCapability] =
    JCollections.emptySet[TableCapability]()
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    (partitionCols.map(pc => PartitionTransforms.parse(pc) match {
      case PartitionTransforms.Identity(c) => Expressions.identity(c)
      case PartitionTransforms.DateUnit("year", c) => Expressions.years(c)
      case PartitionTransforms.DateUnit("month", c) => Expressions.months(c)
      case PartitionTransforms.DateUnit("hour", c) => Expressions.hours(c)
      case PartitionTransforms.DateUnit(_, c) => Expressions.days(c)
      case PartitionTransforms.Truncate(w, c) => Expressions.apply(
        "truncate", Expressions.literal(w), Expressions.column(c))
    }) ++
      bucketSpec.map { case (k, n) => Expressions.bucket(n, k) }).toArray
  }
  override def properties(): JMap[String, String] =
    Map("path" -> dir, "provider" -> "graft").asJava
}
