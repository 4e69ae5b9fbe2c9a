package graft.tables

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, MetadataColumn, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsDelete, SupportsMetadataColumns, SupportsNamespaces, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.functions.{col, input_file_name, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark SQL surface over [[TableStore]]: a DataSourceV2 `TableCatalog`
  * so the engine's managed tables answer plain SQL — the way the
  * reference's users reach their tables (an Iceberg catalog wired into
  * the session, `SparkUtils.java:40-50`):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.root", "/data/tables")
  * spark.sql("CREATE TABLE graft.t (k BIGINT, v STRING) PARTITIONED BY (p)")
  * spark.sql("INSERT INTO graft.t VALUES (1, 'a')")
  * spark.sql("SELECT * FROM graft.t WHERE k BETWEEN 10 AND 20")
  * spark.sql("SELECT * FROM graft.t VERSION AS OF 3")  // time travel
  * spark.sql("DELETE FROM graft.t WHERE k = 7")
  * spark.sql("ALTER TABLE graft.t ADD COLUMNS (w DOUBLE)")
  * }}}
  *
  * Reads go through [[TableStore.read]] — i.e. through the
  * [[ZoneMapFileIndex]] — so SQL filters prune data files by zone maps
  * and bloom sidecars exactly like the programmatic path: the scan is
  * exposed as a [[V1Scan]] whose relation re-plans the pushed filters
  * into the inner DataFrame (`needConversion = false`, so the inner
  * plan's vectorized parquet scan + whole-stage codegen run unchanged —
  * no row conversion layer). Writes use the V1 write bridge: `INSERT
  * INTO` appends one atomic snapshot, `INSERT OVERWRITE` is
  * [[TableStore.overwrite]] (one commit, never an empty window), and
  * `DELETE FROM` with translatable predicates routes to the zone/bloom-
  * pruned copy-on-write [[TableStore.delete]].
  *
  * Table properties at CREATE: `zone_cols`, `bloom_cols` (comma-separated
  * column lists) and `bloom_items` map to the corresponding
  * [[TableStore.create]] arguments, so layout indexing is declarable in
  * SQL. `UPDATE` and `MERGE INTO` run through
  * `SupportsRowLevelOperations` — group-based copy-on-write with
  * zone/bloom candidate pruning and runtime `_file` group filtering
  * (see [[GraftRowLevelOperation]]); `_file` is also a user-selectable
  * metadata column, as in Iceberg.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
  with StagingTableCatalog with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** Column DEFAULT values are supported (Iceberg-v3 initial/write
    * defaults): CREATE/ALTER DDL may declare them, the schema carries
    * them as Spark's CURRENT_DEFAULT/EXISTS_DEFAULT field metadata,
    * INSERTs resolve them, and pre-evolution files read the existence
    * default back instead of null. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** V2 functions backing hidden-partitioning transforms
    * ([[GraftFunctions]]): what lets the analyzer resolve a scan's
    * reported `bucket(n, col)` KeyGroupedPartitioning to a comparable
    * bound function — the resolution step storage-partitioned joins
    * hang on (the relation's `funCatalog` is THIS catalog). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty || namespace.sameElements(Array("default")),
      s"no such function namespace: ${namespace.mkString(".")}")
    GraftFunctions.names.map(n => Identifier.of(Array.empty, n)).toArray
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  /** SQL `CALL graft.system.<proc>(...)` — see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system")),
      s"procedures live in the system namespace, got " +
        ident.namespace().mkString("."))
    GraftProcedures.load(store, ident.name()).getOrElse(
      throw new UnsupportedOperationException(
        s"no such procedure: ${ident.name()} " +
          s"(known: ${GraftProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
  private var catName: String = _
  private var root: String = _
  // one TableStore per (session, root): the store caches field catalogs
  // and hadoop conf — rebuilding it per analysis round would re-read
  // metadata every time the analyzer touches the catalog
  @transient private var cached: (SparkSession, TableStore) = _

  private def store: TableStore = synchronized {
    val s = SparkSession.active
    if (cached == null || (cached._1 ne s)) {
      cached = (s, new TableStore(s, root))
      // V1ScanWrapper drops SupportsReportStatistics; restore the stats
      // path so managed-table scans report metadata size/rows to the
      // join planner (idempotent per session)
      org.apache.spark.sql.graftshim.ReportV1ScanStatsRule.register(s)
      // transparent MV consumption on the SQL path (idempotent)
      MvRewriteRule.register(s)
    }
    cached._2
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.root")
  }

  override def name(): String = catName

  // ---- tables ------------------------------------------------------------

  /** Store name for an identifier. The store is flat; a table in
    * namespace [a,b] is the store table "a.b.t" (namespace levels may
    * not contain '.', so the mangling is unambiguous). The empty and
    * ["default"] namespaces alias the root, preserving every pre-
    * namespace table. */
  private def tableName(ident: Identifier): String = {
    require(!ident.name().contains(TableStore.StageMarker),
      s"table names may not contain ${TableStore.StageMarker} " +
        "(reserved for CTAS staging)")
    require(!ident.name().contains('.'),
      s"table names may not contain '.': ${ident.name()}")
    val ns = ident.namespace()
    if (ns.isEmpty || ns.sameElements(Array("default"))) ident.name()
    else {
      store.validateNamespace(ns.toSeq)
      (ns :+ ident.name()).mkString(".")
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.isEmpty || namespace.sameElements(Array("default")))
      return (store.tables() ++ store.views()).filter(!_.contains('.'))
        .sorted.map(n => Identifier.of(namespace, n)).toArray
    if (!store.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    val prefix = namespace.mkString(".") + "."
    (store.tables() ++ store.views())
      .filter(n => n.startsWith(prefix) && !n.drop(prefix.length).contains('.'))
      .sorted.map(n => Identifier.of(namespace, n.drop(prefix.length))).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    store.exists(tableName(ident))

  override def loadTable(ident: Identifier): Table = {
    // a REAL table always wins over an inspection suffix of the same
    // shape (a user can name a table "snapshots" inside a namespace)
    val real = scala.util.Try(tableName(ident)).toOption
      .filter(store.exists)
    real.foreach(n => return new GraftSqlTable(store, n, None))
    // inspection metadata tables, Iceberg-style: `SELECT * FROM
    // cat.t.snapshots` arrives as Identifier(namespace=[t],
    // name=snapshots); for a namespaced table the owning table is the
    // namespace path itself (`cat.ns.t.snapshots` → namespace [ns,t]) —
    // served read-only from manifests + consolidated stats, zero data
    // files touched
    // persistent views resolve next: the stored SQL re-plans against the
    // session on every read (Iceberg-view semantics — always current)
    scala.util.Try(tableName(ident)).toOption
      .filter(store.viewExists)
      .foreach(v => return new GraftViewTable(store, v))
    val owner = ident.namespace().mkString(".")
    if (ident.namespace().nonEmpty && store.exists(owner)) {
      if (GraftMetaTable.Names.contains(ident.name()))
        return new GraftMetaTable(store, owner, ident.name())
      // `t.changes`: the row-level change feed as a SQL-readable table
      if (ident.name() == "changes")
        return new GraftChangesTable(store, owner)
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF v` time travel — reads route through
    * [[TableStore.readVersion]]; writes to a pinned snapshot are
    * refused. A non-numeric version resolves as a NAMED REF (branch or
    * tag), Iceberg-style: `VERSION AS OF 'audit'`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val n = tableName(ident)
    if (!store.exists(n)) throw new NoSuchTableException(ident)
    val v = version.toIntOption.getOrElse(
      scala.util.Try(store.refVersion(n, version)).getOrElse(
        throw new IllegalArgumentException(
          s"not a snapshot version or named ref: $version")))
    new GraftSqlTable(store, n, Some(v))
  }

  /** `TIMESTAMP AS OF t` time travel: Spark hands MICROSECONDS since
    * epoch; resolves to the latest snapshot committed at or before it
    * ([[TableStore.versionAsOf]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val n = tableName(ident)
    if (!store.exists(n)) throw new NoSuchTableException(ident)
    new GraftSqlTable(store, n, Some(store.versionAsOf(n, timestamp / 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val n = tableName(ident)
    if (store.exists(n)) throw new TableAlreadyExistsException(ident)
    doCreate(n, schema, partitions, properties)
    new GraftSqlTable(store, n, None)
  }

  /** Physical table creation under name `n` (shared by CREATE TABLE and
    * the staged CTAS/RTAS paths, which create under a hidden name). */
  private def doCreate(n: String, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Unit = {
    // identity plus Iceberg's hidden-partitioning transforms — the core
    // DDL surface the reference inherits through its catalog
    // (SparkUtils.java:46): PARTITIONED BY (days(ts), bucket(8, key), ...)
    val partitionBy = partitions.map { t =>
      def colOf: String = {
        val refs = t.references()
        require(refs.length == 1 && refs(0).fieldNames().length == 1,
          s"partition transform ${t.describe()} must reference exactly " +
            "one top-level column")
        refs(0).fieldNames()(0)
      }
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"partition transform ${t.describe()} needs an integer argument"))
      t.name() match {
        case "identity" => t.references()(0).fieldNames().mkString(".")
        case "days" | "day"     => s"days($colOf)"
        case "hours" | "hour"   => s"hours($colOf)"
        case "months" | "month" => s"months($colOf)"
        case "years" | "year"   => s"years($colOf)"
        case "bucket"           => s"bucket($intArg:$colOf)"
        case "truncate"         => s"truncate($intArg:$colOf)"
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform: $other " +
            "(identity, days, hours, months, years, bucket, truncate)")
      }
    }.toSeq
    val props = properties.asScala
    def colsProp(k: String): Seq[String] =
      props.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    store.create(n, schema, partitionBy = partitionBy,
      zoneCols = colsProp("zone_cols"), bloomCols = colsProp("bloom_cols"),
      bloomItems = props.get("bloom_items").map(_.trim.toLong)
        .getOrElse(TableStore.DefaultBloomItems))
    // everything beyond the layout-defining keys (and Spark's own
    // bookkeeping) is a free-form table property — e.g.
    // `write.delete.mode=merge-on-read`
    val user = props.view
      .filterKeys(k => !GraftCatalog.LayoutProps.contains(k) &&
        !k.startsWith("option.") && k != TableCatalog.PROP_PROVIDER &&
        k != TableCatalog.PROP_OWNER && k != TableCatalog.PROP_LOCATION &&
        k != TableCatalog.PROP_COMMENT && k != TableCatalog.PROP_EXTERNAL)
      .toMap
    if (user.nonEmpty)
      store.setProperties(n, user.map { case (k, v) => k -> Some(v) })
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) --------------------------

  /** `CREATE TABLE ... AS SELECT`: the table materializes under a hidden
    * staged name, the query writes into it, and ONE rename publishes it
    * — no window where the table exists empty, and a failed query leaves
    * no table at all. Without this, Spark's fallback creates the table
    * first and drops it on failure (two visible states). */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties, replace = false,
      orCreate = true)
  }

  /** `REPLACE TABLE ... AS SELECT`: the replacement is fully written and
    * durable BEFORE the old table is touched — Spark's non-staging
    * fallback DROPS the target first, so a failed query there destroys
    * the table. Commit swaps directories under the target's commit lock
    * ([[TableStore.replaceTable]]). */
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = true)

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean): StagedTable = {
    val n = tableName(ident)
    val stagedName = s"$n${TableStore.StageMarker}" +
      java.util.UUID.randomUUID().toString.take(8)
    doCreate(stagedName, schema, partitions, properties)
    new GraftStagedTable(store, stagedName, n, replace, orCreate)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val n = tableName(ident)
    if (!store.exists(n)) throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length == 1) {
          // a declared DEFAULT becomes the column's write default
          // (CURRENT_DEFAULT — INSERTs omitting the column resolve it)
          // AND its existence default (EXISTS_DEFAULT — files written
          // BEFORE the column existed read it back instead of null; a
          // genuine null in a post-evolution file stays null). This is
          // the Iceberg-v3 initial/write default pair on Spark's own
          // metadata keys, so the parquet readers fill it natively.
          val md = Option(add.defaultValue()).map { dv =>
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("CURRENT_DEFAULT", dv.getSql())
              .putString("EXISTS_DEFAULT", dv.getSql())
              .build()
          }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
          store.addColumns(n, StructType(Seq(
            org.apache.spark.sql.types.StructField(
              add.fieldNames()(0), add.dataType(), nullable = true, md))))
        } else {
          require(add.defaultValue() == null,
            "DEFAULT on a nested field is not supported")
          store.addNestedField(n, add.fieldNames().toSeq, add.dataType())
        }
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames().length == 1,
          "nested ALTER COLUMN DEFAULT is not supported")
        // updates the WRITE default only — the existence default is the
        // add-time contract of already-written files and must not drift
        store.updateColumnDefault(n, upd.fieldNames()(0),
          Option(upd.newCurrentDefault()).map(_.getSql()))
      case ren: TableChange.RenameColumn =>
        if (ren.fieldNames().length == 1)
          store.renameColumn(n, ren.fieldNames()(0), ren.newName())
        else store.renameNestedField(n, ren.fieldNames().toSeq, ren.newName())
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames().length == 1)
          store.dropColumn(n, del.fieldNames()(0))
        else store.dropNestedField(n, del.fieldNames().toSeq)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "nested ALTER COLUMN TYPE is not supported")
        store.widenColumn(n, upd.fieldNames()(0), upd.newDataType())
      case set: TableChange.SetProperty =>
        require(!GraftCatalog.LayoutProps.contains(set.property()),
          s"${set.property()} defines the physical layout and cannot be " +
            "changed after create")
        store.setProperties(n, Map(set.property() -> Some(set.value())))
      case rm: TableChange.RemoveProperty =>
        store.setProperties(n, Map(rm.property() -> None))
      case other => throw new UnsupportedOperationException(
        s"unsupported table change: $other")
    }
    new GraftSqlTable(store, n, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val n = tableName(ident)
    val existed = store.exists(n)
    if (existed) store.drop(n)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableName(oldIdent)
    if (!store.exists(from)) throw new NoSuchTableException(oldIdent)
    val to = tableName(newIdent)
    if (store.exists(to)) throw new TableAlreadyExistsException(newIdent)
    store.renameTable(from, to)
  }

  // ---- namespaces ---------------------------------------------------------
  //
  // Multi-level namespaces over the flat store (TableStore's `_ns_*`
  // markers + dot-mangled table names): `CREATE NAMESPACE a.b`,
  // `SHOW NAMESPACES [IN a]`, `USE cat.a.b`, `CREATE TABLE cat.a.b.t`,
  // `DROP NAMESPACE ... CASCADE` — the reference's own addressing is
  // `catalog.namespace.table` (DestinationConfig.java:130-132).

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] =
    (Seq(Seq("default")) ++ store.namespaces().filter(_.length == 1))
      .distinct.map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespace.sameElements(Array("default"))) Array.empty
    else {
      if (!store.namespaceExists(namespace.toSeq))
        throw new NoSuchNamespaceException(namespace)
      store.namespaces()
        .filter(n => n.length == namespace.length + 1 &&
          n.startsWith(namespace.toSeq))
        .map(_.toArray).toArray
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default")) ||
      store.namespaceExists(namespace.toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.isEmpty || namespace.sameElements(Array("default")))
      Map.empty[String, String].asJava
    else if (store.namespaceExists(namespace.toSeq))
      store.namespaceProps(namespace.toSeq).asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(!namespace.sameElements(Array("default")),
      "namespace 'default' is implicit")
    store.createNamespace(namespace.toSeq, metadata.asScala.toMap)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!store.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    val updates = changes.map {
      case s: NamespaceChange.SetProperty =>
        s.property() -> Some(s.value())
      case r: NamespaceChange.RemoveProperty => r.property() -> None
      case other => throw new UnsupportedOperationException(
        s"unsupported namespace change: $other")
    }.toMap
    store.setNamespaceProps(namespace.toSeq, updates)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    require(!namespace.sameElements(Array("default")),
      "cannot drop the implicit 'default' namespace")
    store.dropNamespace(namespace.toSeq, cascade)
  }
}

object GraftCatalog {
  /** CREATE-time properties that define the physical layout (consumed by
    * [[TableStore.create]], immutable afterwards) — everything else is a
    * free-form property stored in the table's property bag. */
  val LayoutProps: Set[String] = Set("zone_cols", "bloom_cols", "bloom_items")

  val DeleteModeProp = "write.delete.mode"
  val UpdateModeProp = "write.update.mode"
  val MergeModeProp = "write.merge.mode"
  val MergeOnRead = "merge-on-read"
}

/** A table staged for atomic CTAS/RTAS: a full managed table under a
  * hidden name (invisible to the catalog listing) that the query writes
  * into; `commitStagedChanges` publishes it under the final name — one
  * rename for CREATE, a locked directory swap for REPLACE — and
  * `abortStagedChanges` drops it, leaving no trace. */
private[tables] final class GraftStagedTable(store: TableStore,
    stagedName: String, finalName: String, replace: Boolean,
    orCreate: Boolean)
  extends StagedTable with SupportsRead with SupportsWrite {

  private val inner = new GraftSqlTable(store, stagedName, None)

  override def name(): String = finalName
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] =
    inner.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit =
    if (store.exists(finalName)) {
      if (!replace) {
        // pure CREATE lost a concurrent-create race: surface it, and
        // leave nothing staged behind
        store.drop(stagedName)
        throw new TableAlreadyExistsException(
          Identifier.of(Array.empty, finalName))
      }
      store.replaceTable(stagedName, finalName)
    } else {
      if (replace && !orCreate) {
        // pure REPLACE whose target vanished mid-query: publishing as a
        // create would resurrect a table another session just dropped
        store.drop(stagedName)
        throw new NoSuchTableException(Identifier.of(Array.empty, finalName))
      }
      store.renameTable(stagedName, finalName)
    }

  override def abortStagedChanges(): Unit = store.drop(stagedName)
}

/** One managed table exposed to Spark SQL. `versionAt` pins a historical
  * snapshot (read-only). */
private[tables] final class GraftSqlTable(store: TableStore, tbl: String,
    versionAt: Option[Int])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {

  /** `_file`: which data file a row lives in (Iceberg's metadata column
    * of the same name) — selectable by users and REQUIRED by the
    * row-level operation, whose write task only strips bookkeeping
    * columns for writers that request metadata. `_pos`: the row's
    * ordinal within its file — with `_file` it is the ROW ID of the
    * delta-based (merge-on-read) SQL operations. `_row_id` (lineage
    * tables only): the stable Iceberg-v3 row lineage id. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (store.rowLineage(tbl))
      Array(GraftFileMetaColumn, GraftPosMetaColumn, GraftRowIdMetaColumn)
    else Array(GraftFileMetaColumn, GraftPosMetaColumn)

  override def name(): String = tbl

  /** Identity for plan rules ([[MvRewriteRule]]): the owning store, the
    * store-level table name, and the pinned version (None = current). */
  private[tables] def mvSource: (TableStore, String, Option[Int]) =
    (store, tbl, versionAt)

  override def schema(): StructType = store.schema(tbl)

  override def partitioning(): Array[Transform] =
    store.partitionCols(tbl).map(PartitionField.parse).map {
      case PartitionField.PIdentity(c)    => Expressions.identity(c)
      case PartitionField.PDays(c)        => Expressions.days(c)
      case PartitionField.PHours(c)       => Expressions.hours(c)
      case PartitionField.PMonths(c)      => Expressions.months(c)
      case PartitionField.PYears(c)       => Expressions.years(c)
      case PartitionField.PBucket(n, c)   => Expressions.bucket(n, c)
      case PartitionField.PTruncate(w, c) =>
        Expressions.apply("truncate", Expressions.literal(w),
          Expressions.column(c))
    }.toArray

  override def properties(): util.Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    val z = store.zoneCols(tbl); val b = store.bloomCols(tbl)
    if (z.nonEmpty) m += "zone_cols" -> z.mkString(",")
    if (b.nonEmpty) m += "bloom_cols" -> b.mkString(",")
    m ++= store.properties(tbl)
    m.asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    if (versionAt.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    // AUTOMATIC_SCHEMA_EVOLUTION serves `MERGE WITH SCHEMA EVOLUTION`:
    // Spark's ResolveMergeIntoSchemaEvolution turns the source's extra
    // columns into AddColumn changes through alterTable (metadata-only
    // here) before planning the row-level operation — the user opt-in is
    // the explicit SQL clause, the capability only says the catalog can
    // honor it (Iceberg advertises it the same way).
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(store, tbl, versionAt)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAt.isEmpty, s"cannot write to a pinned snapshot of $tbl")
    new GraftWriteBuilder(store, tbl, info.schema())
  }

  /** SQL `UPDATE` / `MERGE INTO` / rewrite-path `DELETE` — see
    * [[GraftRowLevelOperation]]. Group-based copy-on-write: one atomic
    * snapshot per statement, candidate files pruned by the statement
    * condition through the zone/bloom index. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(versionAt.isEmpty, s"cannot mutate a pinned snapshot of $tbl")
    // variant shreds re-derive inside the distributed rewrite writers
    // (GraftCowDataWriter substitutes the derivation expression for the
    // shred ordinal), matching TableStore.alignTo on the bulk paths —
    // so SQL UPDATE/MERGE on shredded tables stay consistent-by-
    // construction even when the statement changes the variant column
    // per-command write mode (the Iceberg v2 properties): merge-on-read
    // plans the DELTA operation — position sidecars + appended rows, no
    // data file rewritten — copy-on-write plans the group rewrite
    val modeProp = info.command() match {
      case Command.UPDATE => GraftCatalog.UpdateModeProp
      case Command.MERGE  => GraftCatalog.MergeModeProp
      case _              => GraftCatalog.DeleteModeProp
    }
    if (store.properties(tbl).get(modeProp).contains(GraftCatalog.MergeOnRead))
      () => new GraftDeltaOperation(store, tbl, info.command())
    else
      () => new GraftRowLevelOperation(store, tbl, info.command())
  }

  /** SQL `DELETE FROM` → the zone/bloom-pruned copy-on-write delete; only
    * predicates [[GraftFilters.toColumn]] can express reach here (Spark
    * falls back to the [[GraftRowLevelOperation]] rewrite otherwise, by
    * [[canDeleteWhere]]). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionAt.isEmpty && filters.forall(f => GraftFilters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // `write.delete.mode=merge-on-read`: a key-equality-shaped DELETE
    // commits an equality-delete sidecar — METADATA ONLY, no data file
    // rewritten — the Iceberg v2 behavior of the same property. Exactly
    // the CDC tombstone pattern: scattered single-row SQL deletes on a
    // 100 TB table cost O(keys), not O(touched files). Non-key-shaped
    // predicates (ranges, functions) fall back to copy-on-write, which
    // is the only way to honor them exactly.
    val mor = store.properties(tbl).get(GraftCatalog.DeleteModeProp)
      .contains(GraftCatalog.MergeOnRead)
    val routed = mor && (GraftSqlTable.equalityKeys(filters) match {
      case Some((cols, tuples)) =>
        val sch = store.schema(tbl)
        val fields = cols.map(c => sch(sch.fieldIndex(c)).copy(nullable = true))
        val rows = tuples.map(t => org.apache.spark.sql.Row.fromSeq(
          t.zip(fields).map { case (v, f) =>
            GraftSqlTable.coerce(v, f.dataType) }))
        val keys = SparkSession.active.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          org.apache.spark.sql.types.StructType(fields))
        store.deleteMoR(tbl, keys, cols)
        true
      case None => false
    })
    if (!routed) {
      val cond = filters.flatMap(GraftFilters.toColumn)
        .reduceOption(_ && _).getOrElse(lit(true))
      // merge-on-read for NON-key shapes too: a POSITION-delete sidecar
      // records the matched (file, ordinal) pairs — one filtered scan
      // that writes coordinates, zero data files rewritten. The
      // predicate evaluates exactly (row-group stats still skip inside
      // the scan), so ranges/functions keep MoR cost instead of falling
      // to copy-on-write.
      if (mor) store.deletePos(tbl, cond)
      else store.delete(tbl, cond)
    }
  }

  override def truncateTable(): Boolean = { store.truncate(tbl); true }
}

private[tables] object GraftSqlTable {

  /** Decompose a pushed-filter conjunction into equality key tuples:
    * `EqualTo`s on distinct columns plus at most one `IN` (expanded to
    * one tuple per member). None = not key-equality-shaped (the caller
    * falls back to copy-on-write). Null members refuse the whole shape:
    * SQL `=` never matches null, so a CoW rewrite (which evaluates the
    * predicate exactly) is the honest route. */
  def equalityKeys(filters: Array[Filter])
      : Option[(Seq[String], Seq[Seq[Any]])] = {
    var eqs = Vector.empty[(String, Any)]
    var in: Option[(String, Seq[Any])] = None
    def visit(f: Filter): Boolean = f match {
      case sources.EqualTo(a, v)
          if v != null && !eqs.exists(_._1 == a) && !in.exists(_._1 == a) =>
        eqs :+= (a -> v); true
      case sources.In(a, vs)
          if in.isEmpty && !eqs.exists(_._1 == a) && vs.nonEmpty &&
            vs.forall(_ != null) =>
        in = Some(a -> vs.toSeq); true
      case sources.And(l, r) => visit(l) && visit(r)
      case _ => false
    }
    if (filters.isEmpty || !filters.forall(visit)) None
    else in match {
      case None =>
        Some((eqs.map(_._1), Seq(eqs.map(_._2))))
      case Some((c, vs)) =>
        Some((eqs.map(_._1) :+ c, vs.map(v => eqs.map(_._2) :+ v)))
    }
  }

  /** Align a pushed-filter literal with the table's declared type (the
    * delete-key frame is built row-by-row, so values must match the
    * schema exactly; deleteMoR's cast handles the rest). */
  def coerce(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (n: Number, LongType)    => n.longValue()
      case (n: Number, IntegerType) => n.intValue()
      case (n: Number, ShortType)   => n.shortValue()
      case (n: Number, ByteType)    => n.byteValue()
      case (n: Number, DoubleType)  => n.doubleValue()
      case (n: Number, FloatType)   => n.floatValue()
      case _ => v
    }
  }
}

/** Read-only inspection table (`t.snapshots` / `t.files` / `t.refs`):
  * each scan re-derives the frame from the CURRENT table metadata, so
  * the view always reflects the head — like Iceberg's metadata tables,
  * everything comes from manifests and consolidated stats, never data
  * files. */
private[tables] object GraftMetaTable {
  val Names: Set[String] =
    Set("snapshots", "files", "refs", "partitions", "history", "deletes")
}

private[tables] final class GraftMetaTable(store: TableStore, tbl: String,
    meta: String) extends Table with SupportsRead {

  private def frame: DataFrame = meta match {
    case "snapshots"  => store.snapshotsFrame(tbl)
    case "files"      => store.filesFrame(tbl)
    case "refs"       => store.refsFrame(tbl)
    case "partitions" => store.partitionsFrame(tbl)
    case "history"    => store.historyFrame(tbl)
    case "deletes"    => store.deletesFrame(tbl)
  }

  override def name(): String = s"$tbl.$meta"
  override def schema(): StructType = frame.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      private val df = frame // one consistent snapshot per scan build
      override def readSchema(): StructType = df.schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = df.schema
          override def needConversion: Boolean = false
          override def buildScan(): RDD[Row] =
            df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
        }.asInstanceOf[T]
    }
}

/** `t.changes`: the row-level change feed ([[TableStore.changeFeed]]) as
  * a SQL-readable table — the batch face of the CDF surface (Delta's
  * `table_changes`, Iceberg's changelog scan):
  *
  * {{{
  * spark.read.option("startVersion", 3)   // exclusive, REQUIRED
  *   .option("endVersion", 7)             // inclusive, default = head
  *   .table("cat.t.changes")
  * }}}
  *
  * Labeled net changes per commit in `(startVersion, endVersion]`; cost
  * is proportional to each commit's changed scope, never the table.
  * `startVersion` is required for the same reason the streaming feed
  * requires it: delivering a 100 TB initial state as 'inserts' is a
  * table read, not a change feed. */
private[tables] final class GraftChangesTable(store: TableStore,
    tbl: String) extends Table with SupportsRead {

  override def name(): String = s"$tbl.changes"

  // lineage tables' feeds always carry the stable row id (virtual or
  // materialized per file) — the declared schema must match the served
  // rows column-for-column (the V1 bridge passes InternalRows through)
  private val lineage = store.rowLineage(tbl)

  override def schema(): StructType =
    StructType(store.schema(tbl).fields ++
      (if (lineage) Seq(org.apache.spark.sql.types.StructField(
        TableStore.RowIdCol, org.apache.spark.sql.types.LongType,
        nullable = true)) else Nil) ++ Seq(
      org.apache.spark.sql.types.StructField(TableStore.ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(TableStore.CommitVersionCol,
        org.apache.spark.sql.types.IntegerType, nullable = false)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      private val df = {
        val start = Option(options.get("startVersion")).map(_.trim.toInt)
          .getOrElse(throw new IllegalArgumentException(
            s"$tbl.changes needs read option startVersion (exclusive): " +
              "the feed delivers CHANGES after a known snapshot — for " +
              "the initial state, read the table itself"))
        val end = Option(options.get("endVersion")).map(_.trim.toInt)
          .getOrElse(store.currentVersion(tbl))
        // updateKeys (identifier columns): pair same-commit delete+insert
        // rows into update_preimage/update_postimage — Iceberg's
        // create_changelog_view "identifier columns" surface.
        // lineage=true pairs by the stable _row_id instead — no user key
        // needed (row-lineage tables only); the feed rows then carry the
        // _row_id column.
        val keys = Option(options.get("updateKeys")).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        val byLineage = Option(options.get("lineage"))
          .exists(_.trim.equalsIgnoreCase("true"))
        require(!(byLineage && keys.nonEmpty),
          "updateKeys and lineage=true are mutually exclusive")
        require(!byLineage || lineage,
          s"lineage=true needs row-lineage enabled on $tbl")
        if (byLineage) store.changeFeedLineage(tbl, start, end)
        else if (keys.nonEmpty)
          store.changeFeedWithUpdates(tbl, start, end, keys,
            rowIds = lineage)
        else store.changeFeed(tbl, start, end, rowIds = lineage)
      }
      override def readSchema(): StructType = df.schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = df.schema
          override def needConversion: Boolean = false
          override def buildScan(): RDD[Row] =
            df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
        }.asInstanceOf[T]
    }
}

/** A persistent SQL view (`CALL cat.system.create_view(...)`) served as a
  * read-only table: the stored SQL re-plans against the ACTIVE session on
  * every read, so the view always reflects the current state and schema
  * of whatever it selects from — Iceberg-view semantics, without waiting
  * on Spark to route `CREATE VIEW` DDL to V2 catalogs (no such path in
  * Spark 4.1). Views may reference views; a reference CYCLE is detected
  * by the per-thread resolution stack and fails loudly instead of
  * overflowing during analysis. */
private[tables] object GraftViewTable {
  private val resolving = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }
  def guarded[A](key: String)(body: => A): A = {
    val cur = resolving.get()
    require(!cur.contains(key),
      s"view cycle detected: ${(cur + key).toSeq.sorted.mkString(" -> ")}")
    resolving.set(cur + key)
    try body finally resolving.set(cur)
  }
}

private[tables] final class GraftViewTable(store: TableStore, view: String)
  extends Table with SupportsRead {

  private def frame: DataFrame =
    GraftViewTable.guarded(view) {
      SparkSession.active.sql(store.viewSql(view))
    }

  override def name(): String = s"view $view"
  override def schema(): StructType = frame.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      private val df = frame // one consistent resolution per scan build
      override def readSchema(): StructType = df.schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = df.schema
          override def needConversion: Boolean = false
          override def buildScan(): RDD[Row] =
            df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
        }.asInstanceOf[T]
    }
}

private[tables] object GraftFileMetaColumn extends MetadataColumn {
  val Name = "_file"
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override def isNullable(): Boolean = false
  override def comment(): String = "data file the row lives in"
}

private[tables] object GraftPosMetaColumn extends MetadataColumn {
  val Name = "_pos"
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def isNullable(): Boolean = false
  override def comment(): String = "row ordinal within its data file"
}

private[tables] object GraftRowIdMetaColumn extends MetadataColumn {
  val Name = TableStore.RowIdCol
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def isNullable(): Boolean = true // pre-lineage files read null
  override def comment(): String = "stable row lineage id (Iceberg v3)"
}

private[tables] final class GraftScanBuilder(store: TableStore, tbl: String,
    versionAt: Option[Int])
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = store.schema(tbl)
  // complete metadata answer for a pushed whole-table aggregate:
  // (result schema, one row of catalyst-internal values)
  private var aggAnswer: Option[(StructType, Seq[Any])] = None
  // file subset selected by a pushed LIMIT / TopN (planning-side file
  // pruning from recorded row counts / zone bounds + null ledger)
  private var limitSubset: Option[Seq[String]] = None

  /** `LIMIT n` directly over the scan: serve it from a minimal file
    * subset guaranteed (by recorded per-file row counts) to hold ≥ n
    * rows. PARTIAL pushdown — Spark keeps its own Limit, so the scan
    * never has to be exact, only sufficient. Declined whenever the
    * guarantee could be violated: pushed filters (they reduce per-file
    * counts unpredictably), time travel (stats API serves the head),
    * the SPJ batch path (its reader ignores the subset), or a snapshot
    * with incomplete counts / pending MoR deletes. */
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.nonEmpty || versionAt.nonEmpty || spjPlan.isDefined ||
      aggAnswer.nonEmpty) return false
    store.limitRels(tbl, limit) match {
      case Some(rs) => limitSubset = Some(rs); true
      case None => false
    }
  }

  /** `ORDER BY … LIMIT n` (TopN) over the scan: keep only files whose
    * zone bounds + null ledger admit a top-n row under the LEADING sort
    * key (a strict leading-column win is a strict full-tuple win, so
    * extra tie-breaker columns never widen the candidate set). Same
    * partial-pushdown contract and decline conditions as pushLimit. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (pushed.nonEmpty || versionAt.nonEmpty || spjPlan.isDefined ||
      aggAnswer.nonEmpty || orders.isEmpty) return false
    orders.head.expression() match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        val o = orders.head
        val asc = o.direction() == SortDirection.ASCENDING
        val nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST
        store.topNRels(tbl, f.fieldNames.head, asc, nullsFirst, limit) match {
          case Some(rs) => limitSubset = Some(rs); true
          case None => false
        }
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  /** Whole-table `count(*)` / `min` / `max`(zone column) answered from
    * the snapshot's recorded statistics — the SQL-path face of
    * [[MetadataAggregateRule]], which cannot see through the V1 scan
    * bridge (the SQL aggregate lives ABOVE the DSv2 relation). Same
    * strictly conservative rules: current snapshot only (time travel
    * declines), no pushed filters, no grouping, CountStar (never the
    * null-sensitive count(col)), min/max only of a zone column whose
    * recorded bound converts EXACTLY to the column type; any file
    * missing a stat — or pending MoR deletes — makes
    * rowCount/columnRange return None and the scan stays. Answered at
    * PUSH time: plan-time snapshot semantics, like the file index. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    translateAgg(agg) match {
      case some @ Some(_) => aggAnswer = some; true
      case None => false
    }

  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max => VMax, Min => VMin}
    if (pushed.nonEmpty || versionAt.nonEmpty) return None
    if (agg.groupByExpressions.nonEmpty) return None
    if (agg.aggregateExpressions.isEmpty) return None
    val sch = store.schema(tbl)
    def bound(e: org.apache.spark.sql.connector.expressions.Expression,
        wantMin: Boolean): Option[(org.apache.spark.sql.types.StructField, Any)] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          val name = f.fieldNames.head
          for {
            field <- sch.fields.find(_.name == name)
            range <- scala.util.Try(store.columnRange(tbl, name)).toOption.flatten
            v <- MetadataAggregateRule.internalValue(
              if (wantMin) range._1 else range._2, field.dataType)
          } yield (org.apache.spark.sql.types.StructField(
            s"${if (wantMin) "min" else "max"}($name)", field.dataType,
            nullable = false), v)
        case _ => None
      }
    val translated = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        store.rowCount(tbl).map(n =>
          (org.apache.spark.sql.types.StructField("count(*)",
            org.apache.spark.sql.types.LongType, nullable = false), n: Any))
      case m: VMin => bound(m.column, wantMin = true)
      case m: VMax => bound(m.column, wantMin = false)
      case _ => None
    }
    if (translated.forall(_.isDefined)) {
      val fields = translated.flatten
      Some((StructType(fields.map(_._1)), fields.map(_._2)))
    } else None
  }

  private[tables] def pushedAggAnswer: Option[(StructType, Seq[Any])] = aggAnswer

  /** Storage-partitioned-join plan, computed once per builder: Some iff
    * the table's current snapshot can be served by the raw V2 batch
    * reader (see [[TableStore.spjPlan]]). Time travel stays on the V1
    * path — snapshot reads are not the join-planning hot path. */
  private lazy val spjPlan: Option[TableStore.SpjPlan] =
    if (versionAt.nonEmpty) None else store.spjPlan(tbl)

  /** Filters we translate are applied EXACTLY inside the inner plan (a
    * real Catalyst filter over the scan — zone pruning is only the
    * file-skipping layer, fail-open), so they are fully handled and only
    * untranslatable residues go back to Spark.
    *
    * SPJ-eligible tables instead keep EVERY filter a Spark-side
    * residual: the raw batch reader prunes FILES with the translated
    * set (and hands it to parquet for row-group skipping) but does not
    * evaluate rows, so exactness must stay above the scan. The V1
    * fallback under this contract merely double-applies — harmless. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, _) =
      filters.partition(f => GraftFilters.toColumn(f).isDefined)
    pushed = ok
    // EVERY filter returns as residual (both scan paths): the scan
    // still applies `pushed` for file pruning + row skipping, and the
    // kept Filter node above is what lets CBO scale the scan's
    // reported column stats by predicate selectivity — claiming the
    // conjuncts handled would erase the node FilterEstimation needs,
    // so a selectively-filtered dim could never win a broadcast from
    // statistics. Residual re-evaluation passes every surviving row
    // once inside whole-stage codegen — noise next to the shuffle it
    // saves.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = spjPlan match {
    // the `_file`/`_pos` metadata columns and complete aggregate
    // pushdown are V1-relation features; both are rare on the join hot
    // path (a pushed limit/TopN subset implies spjPlan was None at push
    // time)
    case Some(p) if aggAnswer.isEmpty && limitSubset.isEmpty &&
        !required.fieldNames.contains(GraftFileMetaColumn.Name) &&
        !required.fieldNames.contains(GraftPosMetaColumn.Name) &&
        !required.fieldNames.contains(GraftRowIdMetaColumn.Name) =>
      new GraftBatchScan(store, tbl, p, pushed, required)
    case _ =>
      new GraftV1Scan(store, tbl, versionAt, pushed, required, aggAnswer,
        limitSubset)
  }
}

/** V1-bridged scan: the relation's RDD is the INNER DataFrame's executed
  * plan (`needConversion = false` → InternalRow passthrough), so the SQL
  * path inherits the entire programmatic read stack — ZoneMapFileIndex
  * file skipping, bloom sidecars, vectorized parquet, codegen — without a
  * custom PartitionReader. */
private[tables] final class GraftV1Scan(store: TableStore, tbl: String,
    versionAt: Option[Int], pushed: Array[Filter], required: StructType,
    aggAnswer: Option[(StructType, Seq[Any])] = None,
    limitSubset: Option[Seq[String]] = None)
  extends V1Scan with SupportsReportStatistics {

  override def readSchema(): StructType =
    aggAnswer.map(_._1).getOrElse(required)

  /** Metadata-only planner statistics (the Iceberg manifest answer):
    * without this a DSv2 scan's logical stats default to
    * `Long.MaxValue`, so SQL joins against managed tables can NEVER
    * auto-broadcast — at 100 TB that turns every dim join into a
    * shuffle. Size comes from the snapshot's recorded file lengths (one
    * consolidated read), rows from the recorded per-file counts; both
    * are upper bounds under pushed filters, which is the conservative
    * direction a broadcast decision needs. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(store.scanSizeBytes(tbl, versionAt))
    // Pushed filters do NOT suspend numRows/columnStats: every filter
    // also returns to Spark as a residual (pushFilters), so a Filter
    // node always sits above this scan and FilterEstimation applies
    // predicate selectivity to these numbers exactly once — the scan's
    // own pre-filtering only narrows execution, never the estimate
    // path. Reporting full-table stats here is the upper bound of the
    // scan's output in every case.
    override def numRows(): java.util.OptionalLong =
      if (versionAt.isEmpty && limitSubset.isEmpty && aggAnswer.isEmpty)
        store.rowCount(tbl).map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      else java.util.OptionalLong.empty()
    override def columnStats()
        : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (versionAt.isEmpty && limitSubset.isEmpty && aggAnswer.isEmpty)
        ColumnStatsReport.build(store, tbl, required)
      else java.util.Collections.emptyMap()
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = readSchema()
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] = aggAnswer match {
        case Some((_, vals)) =>
          // complete aggregate pushdown: ONE metadata row, zero data
          // files touched (values were resolved from the snapshot's
          // consolidated stats at push time)
          context.sparkSession.sparkContext
            .parallelize(Seq(org.apache.spark.sql.catalyst.InternalRow
              .fromSeq(vals)), 1).asInstanceOf[RDD[Row]]
        case None => buildDataScan()
      }
      private def buildDataScan(): RDD[Row] = {
        val needPos = required.fieldNames.contains(GraftPosMetaColumn.Name)
        val needRowId =
          required.fieldNames.contains(GraftRowIdMetaColumn.Name)
        val base = limitSubset match {
          // pushed LIMIT/TopN: scan only the pre-selected file subset
          // (pushLimit/pushTopN decline under time travel, so the
          // subset always targets the current snapshot)
          case Some(rs) => store.readRels(tbl, rs)
          case None if needPos =>
            // row coordinates: the masked read that carries (rel path,
            // ordinal) — only current-snapshot (row-level ops never
            // target a pinned version). `_file` here is the REL path,
            // which is what delete sidecars and the delta writer key on.
            require(versionAt.isEmpty, "_pos is not available under time travel")
            store.readWithPos(tbl, rowIds = needRowId)
              .withColumnRenamed(TableStore.PosIdxCol, GraftPosMetaColumn.Name)
              .withColumnRenamed(TableStore.PosFileCol, GraftFileMetaColumn.Name)
          case None if needRowId =>
            require(versionAt.isEmpty,
              "_row_id is not available under time travel")
            store.readLineage(tbl)
          case None => versionAt.map(v => store.readVersion(tbl, v))
            .getOrElse(store.read(tbl))
        }
        // `_file` metadata column materializes from the scan itself
        val withMeta =
          if (!needPos &&
              required.fieldNames.contains(GraftFileMetaColumn.Name))
            base.withColumn(GraftFileMetaColumn.Name, input_file_name())
          else base
        val filtered = pushed.flatMap(GraftFilters.toColumn)
          .foldLeft(withMeta)((df, c) => df.filter(c))
        // column-pruned select reaches the parquet ReadSchema via Catalyst;
        // an empty required schema (count(*)) selects zero columns
        val projected =
          filtered.select(required.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
        projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
      }
    }.asInstanceOf[T]
}

private[tables] final class GraftWriteBuilder(store: TableStore, tbl: String,
    writeSchema: StructType)
  extends WriteBuilder with SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  // INSERT INTO appends; INSERT OVERWRITE arrives as overwrite(AlwaysTrue)
  // (or truncate()) = whole-table replacement, overwrite(filters) =
  // static-partition/filter overwrite (one CoW commit), and
  // overwriteDynamicPartitions() = replace exactly the partition dirs
  // the incoming rows land in (partitionOverwriteMode=dynamic)
  private sealed trait Mode
  private case object AppendMode extends Mode
  private case object ReplaceAll extends Mode
  private case class Where(cond: Column) extends Mode
  private case object Dynamic extends Mode
  private var mode: Mode = AppendMode

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode =
      if (filters.forall(_.isInstanceOf[sources.AlwaysTrue])) ReplaceAll
      else {
        val conds = filters.map(f => GraftFilters.toColumn(f).getOrElse(
          throw new UnsupportedOperationException(
            s"untranslatable overwrite filter: $f")))
        Where(conds.reduce(_ && _))
      }
    this
  }

  override def truncate(): WriteBuilder = { mode = ReplaceAll; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = Dynamic; this
  }

  override def build(): Write = mode match {
    // dynamic overwrite has NO V1 fallback exec in Spark — it runs as a
    // true distributed V2 staged write (the row-level writer machinery)
    // whose commit replaces exactly the touched partition directories
    case Dynamic => new GraftDynamicOverwriteWrite(store, tbl, writeSchema)
    case _ => new V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit =
            mode match {
              case ReplaceAll => store.overwrite(tbl, data)
              case Where(cond) => store.overwriteWhere(tbl, cond, data)
              case AppendMode =>
                if (overwrite) store.overwrite(tbl, data)
                else store.append(tbl, data)
              case Dynamic => throw new IllegalStateException("unreachable")
            }
        }
    }
  }
}

/** Dynamic partition overwrite as a V2 batch write: tasks stage files
  * through the shared [[GraftStagedBatchWrite]] writer (clustered by
  * partition columns via RequiresDistributionAndOrdering), and the
  * commit swaps exactly the partition directories the staged files
  * landed in ([[TableStore.commitDynamicStaged]]). */
private[tables] final class GraftDynamicOverwriteWrite(store: TableStore,
    tbl: String, writeSchema: StructType)
  extends Write
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    val p = store.writeLayout(tbl).partLogicalNames
    if (p.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      p.map(n => Expressions.identity(n)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    // the table's declared write.sort-order, prefixed by the partition
    // columns (the staged writer needs dir clustering first) — Spark
    // inserts the local sort before the write exactly like the
    // programmatic path's sortWithinPartitions in writeDataFiles
    val sort = store.writeSortOrder(tbl)
    if (sort.isEmpty) Array.empty
    else {
      import org.apache.spark.sql.connector.expressions.{Expressions => E}
      import org.apache.spark.sql.connector.expressions.{SortDirection, NullOrdering}
      (store.writeLayout(tbl).partLogicalNames.map(n =>
        E.sort(E.identity(n), SortDirection.ASCENDING,
          NullOrdering.NULLS_FIRST)) ++
        sort.map { case (c, asc) =>
          E.sort(E.identity(c),
            if (asc) SortDirection.ASCENDING else SortDirection.DESCENDING,
            if (asc) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
        }).toArray
    }
  }

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new GraftStagedBatchWrite(store, tbl, writeSchema) {
      override protected def commitStaged(staging: HPath,
          kept: Map[String, FileStatsPartial], idKept: Set[String]): Unit =
        this.store.commitDynamicStaged(tbl, staging, kept)
    }

  override def description(): String = s"graft dynamic overwrite of $tbl"
}

/** Translation of Spark's data-source `Filter`s to `Column` predicates —
  * the bridge that lets SQL WHERE clauses re-enter the programmatic read
  * path (and its zone/bloom pruning) unchanged. `None` = untranslated;
  * callers treat it as "Spark evaluates this one after the scan". */
private[tables] object GraftFilters {
  private def qcol(n: String): Column = col(s"`$n`")

  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(qcol(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(qcol(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(qcol(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(qcol(a) >= lit(v))
    case sources.LessThan(a, v) => Some(qcol(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(qcol(a) <= lit(v))
    case sources.In(a, vs) => Some(qcol(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(qcol(a).isNull)
    case sources.IsNotNull(a) => Some(qcol(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(qcol(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(qcol(a).endsWith(v))
    case sources.StringContains(a, v) => Some(qcol(a).contains(v))
    case sources.And(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case sources.Or(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case _: sources.AlwaysTrue => Some(lit(true))
    case _: sources.AlwaysFalse => Some(lit(false))
    case _ => None
  }
}
