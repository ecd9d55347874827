package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.wap.BranchCatalog

/** DataSource V2 catalog over [[graft.wap.BranchCatalog]] — the surface
  * that makes graft tables first-class SQL citizens (the reference's
  * published tables are queryable by any engine through the generic
  * catalog API, reference app.py:201-246 and the README's
  * "Querying from Snowflake" section; this is the Spark-native
  * equivalent of that claim):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", classOf[GraftTableCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.lake.root", "s3://bucket/lake")
  *   spark.sql("SELECT * FROM lake.main.documents WHERE doc_id < 10")
  *   spark.sql("SELECT * FROM lake.main.documents VERSION AS OF '<snapshot-id>'")
  *   spark.sql("SELECT * FROM lake.main.documents TIMESTAMP AS OF '2026-01-01'")
  *   spark.sql("SHOW NAMESPACES IN lake")           // branches
  *   spark.sql("CREATE NAMESPACE lake.audit")       // = createBranch (from main)
  * }}}
  *
  * Namespaces are BRANCHES (one level — `lake.<branch>.<table>`; a bare
  * `lake.<table>` reads main). `loadTable` pins the branch head snapshot
  * at analysis time, so one query referencing a table twice sees ONE
  * snapshot (the same isolation `scan` gives the Scala API).
  *
  * Reads take one path in every session, with or without
  * [[graft.GraftExtensions]]: [[GraftTable.newScanBuilder]] plans a
  * [[GraftBatchScan]] — pushed and runtime filters reach the manifest
  * pruner, files bin-pack into Spark-sized splits, readers are Spark's
  * vectorized parquet readers (columnar batches cross the DSv2
  * boundary), and pending MOR tombstones are anti-probed per row. A
  * filter file metadata proves for every kept file is not re-checked,
  * and an aggregate the snapshot metadata answers exactly under such
  * filters is pushed whole into the builder and plans as a local scan
  * of driver-computed rows (with no Spark job at all under
  * [[graft.GraftExtensions]]).
  * Only the metadata tables (`t$snapshots`, `t$files`, ...) — small
  * frames built on the driver — read through a [[V1Scan]].
  *
  * Writes: `INSERT INTO` / `INSERT OVERWRITE` (and therefore CTAS)
  * commit through the ordinary catalog write path — but only on BRANCH
  * namespaces. A write to main is refused unless the catalog sets
  * `write.main=true`: nothing lands on main unaudited, which is the
  * whole point of the reference pattern — `INSERT INTO lake.wip.t`,
  * audit, then publish. Row-level SQL DML (UPDATE/DELETE/MERGE) stays on
  * the Scala API ([[graft.wap.BranchCatalog.mergeInto]] etc.).
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog with FunctionCatalog
    with ViewCatalog {

  private var catalogName: String = _
  private var root: String = _

  /** Lets Spark's DDL analyzer hand `DEFAULT` clauses through (CREATE
    * TABLE / ADD COLUMN / ALTER COLUMN SET DEFAULT) instead of refusing
    * them up front — graft stores them per-snapshot (W71). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      // ALTER TABLE ... ADD/DROP CONSTRAINT lowers onto the W70
      // `graft.constraint.<name>` properties (Delta's CHECK surface)
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      // CREATE TABLE (c LONG GENERATED ALWAYS AS (expr)) — W87: computed
      // when omitted, validated when provided, both in alignToSchema
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root=<lake root path>"))
    mainWritesAllowed = options.getBoolean("write.main", false)
    // vanilla sessions (no graft extensions): renamed tables need the
    // reader's field-id matching on — set it when the catalog binds
    SparkSession.active.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
  }

  override def name(): String = catalogName

  /** The lake root this catalog binds (for commands that need a
    * BranchCatalog outside the DSv2 surface, e.g. the partition-field
    * DDL parser). */
  private[sql] def lakeRoot: String = root

  private def spark: SparkSession = SparkSession.active
  private def cat: BranchCatalog = new BranchCatalog(spark, root)

  /** The namespace as a BRANCH name. Every read path that supports tags
    * resolves them before calling this, so a tag name arriving here is a
    * mutation (CREATE/DROP/ALTER/RENAME/write) or branch-only op on a
    * frozen ref — refuse it by name rather than let BranchCatalog throw
    * a confusing "no branch". */
  private def branchOf(ns: Array[String]): String = ns match {
    case Array() => "main"
    case Array(b) =>
      require(!cat.listTags().contains(b),
        s"$b is a TAG namespace (immutable, read-only) — this operation needs a branch")
      b
    case other => throw new IllegalArgumentException(
      s"graft namespaces are single-level branches, got ${other.mkString(".")}")
  }

  // ---- namespaces = branches (mutable) + tags (immutable) ----------------

  override def defaultNamespace(): Array[String] = Array("main")

  /** True when the single-level namespace names a TAG, not a branch —
    * reads resolve through the tag's pinned table map, writes refuse. */
  private def tagOf(ns: Array[String]): Option[String] =
    ns match {
      case Array(t) if cat.listTags().contains(t) => Some(t)
      case _ => None
    }

  override def listNamespaces(): Array[Array[String]] =
    (cat.listBranches() ++ cat.listTags()).sorted.map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      catalogName +: namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      (cat.listBranches().contains(namespace.head) ||
        cat.listTags().contains(namespace.head))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace)
    tagOf(namespace) match {
      case Some(t) => Map("tag" -> t, "immutable" -> "true").asJava
      case None => Map("branch" -> namespace.head).asJava
    }
  }

  /** CREATE NAMESPACE = zero-copy branch from main. */
  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    cat.createBranch(branchOf(namespace),
      Option(metadata.get("from")).getOrElse("main"))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft branches carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    tagOf(namespace).foreach { t =>
      // dropping a tag releases its expiry pin — an explicit, named act
      throw new UnsupportedOperationException(
        s"$t is a tag — drop it with CALL $catalogName.system.drop_tag('$t')")
    }
    val b = branchOf(namespace)
    if (!cat.listBranches().contains(b)) return false
    require(cascade || cat.listTables(b).isEmpty,
      s"branch $b carries tables; use DROP NAMESPACE ... CASCADE")
    cat.dropBranch(b)
    true
  }

  // ---- tables -------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tagOf(namespace) match {
      case Some(t) =>
        cat.tagTables(t).keys.toSeq.sorted.map(Identifier.of(namespace, _)).toArray
      case None =>
        cat.listTables(branchOf(namespace)).map(Identifier.of(namespace, _)).toArray
    }

  override def tableExists(ident: Identifier): Boolean =
    tagOf(ident.namespace()) match {
      case Some(t) => cat.tagTables(t).contains(ident.name())
      case None => cat.tableExists(ident.name(), branchOf(ident.namespace()))
    }

  /** table -> pinned snapshot resolution for one namespace: a branch
    * resolves its HEAD, a tag its frozen pointer. */
  private def snapshotIn(ns: Array[String], table: String): Option[(String, String, Boolean)] =
    tagOf(ns) match {
      case Some(t) => cat.tagTables(t).get(table).map(id => (t, id, true))
      case None =>
        val b = branchOf(ns)
        cat.snapshotIdOf(table, b).map(id => (b, id, false))
    }

  override def loadTable(ident: Identifier): Table = {
    GraftMetadataTable.kindOf(ident.name()) match {
      case Some((base, "changes")) => // `t$changes` — the CDC table (W63/W64)
        val (ref, id, isTag) = snapshotIn(ident.namespace(), base).getOrElse(
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            Array(catalogName, ident.namespace().mkString("."), ident.name())))
        GraftChangesTable(table(Identifier.of(ident.namespace(), base), ref, id, isTag))
      case Some((base, kind)) => // `t$snapshots` / `t$files` / `t$history`
        val (ref, id, _) = snapshotIn(ident.namespace(), base).getOrElse(
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            Array(catalogName, ident.namespace().mkString("."), ident.name())))
        GraftMetadataTable(root, ref, base, kind, id)
      case None =>
        val (ref, id, isTag) = snapshotIn(ident.namespace(), ident.name()).getOrElse(
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
            Array(catalogName, ident.namespace().mkString("."), ident.name())))
        table(ident, ref, id, isTag)
    }
  }

  private def refuseMetaTimeTravel(ident: Identifier): Unit =
    if (GraftMetadataTable.kindOf(ident.name()).isDefined)
      throw new UnsupportedOperationException(
        s"metadata table ${ident.name()} does not support time travel — " +
          "query the BASE table with VERSION/TIMESTAMP AS OF instead")

  /** SQL `VERSION AS OF '<snapshot-id-or-tag>'`: a version string naming
    * a TAG resolves to that tag's pinned snapshot of the table (Iceberg
    * `VERSION AS OF 'tag'` semantics — time travel by release name);
    * anything else is treated as a literal snapshot id. */
  override def loadTable(ident: Identifier, version: String): Table = {
    refuseMetaTimeTravel(ident)
    if (cat.listTags().contains(version)) {
      val id = cat.tagTables(version).getOrElse(ident.name(),
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
          Array(catalogName, version, ident.name())))
      table(ident, version, id, isTag = true)
    } else table(ident, branchOf(ident.namespace()), version)
  }

  /** SQL `TIMESTAMP AS OF ...` — Spark hands MICROseconds since epoch;
    * resolves to the last snapshot committed at or before it (same walk
    * as [[BranchCatalog.scanAsOf]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    refuseMetaTimeTravel(ident)
    val branch = branchOf(ident.namespace())
    val id = cat.snapshotIdAsOf(ident.name(), timestamp / 1000L, branch)
    table(ident, branch, id)
  }

  private def table(ident: Identifier, branch: String, snapshotId: String,
      isTag: Boolean = false): GraftTable = {
    val snap = cat.snapshotMeta(ident.name(), snapshotId)
    GraftTable(root, branch, ident.name(), snapshotId,
      // field ids ride the relation schema into every connector read,
      // so renamed columns resolve by id in pre-rename files (W58)
      BranchCatalog.readSchema(StructType.fromDDL(snap.schemaDdl), snap.evo),
      mainWritesAllowed, snap.partitionSpec, isTag,
      storedProps = if (isTag) Map.empty
        else cat.tableProperties(ident.name(), branch))
  }

  /** SQL writes land on BRANCHES by default: `INSERT INTO <cat>.main.t`
    * would bypass write-audit-publish, so it is refused unless the
    * catalog is configured with `spark.sql.catalog.<name>.write.main=
    * true`. Branch writes + a WAP publish keep the reference's guarantee
    * that nothing reaches main unaudited. */
  private var mainWritesAllowed: Boolean = false

  /** `CREATE TABLE lake.<branch>.<t> (cols...) [PARTITIONED BY (transform)]`
    * — metadata-only, like `createTableIfNotExists`. A `PARTITIONED BY`
    * transform (`days(ts)`, `months(ts)`, `hours(ts)`, `bucket(n, col)`,
    * `truncate(w, col)`) maps onto graft's hidden
    * [[graft.wap.PartitionSpec]], is committed on the table's first
    * snapshot, and every subsequent SQL `INSERT INTO` writes
    * partition-valued files through `appendPartitioned` — the SQL-first
    * user gets the same transform pruning as the Scala API (W21). */
  override def createTable(
      ident: Identifier, columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    GraftMetadataTable.kindOf(ident.name()) match {
      case Some((base, "changes")) =>
        // a streaming CDC replication auto-creates its missing target:
        // creating `t$changes` creates the BASE table with the feed's
        // base schema (the virtual change columns are the feed's, not
        // the table's)
        val baseSchema = StructType(plainSchemaOf(columns)._1.fields
          .filterNot(f => GraftChangesTable.VirtualCols.contains(f.name)))
        cat.createTableIfNotExists(base, baseSchema, branchOf(ident.namespace()))
        return loadTable(ident)
      case Some((_, kind)) => throw new UnsupportedOperationException(
        s"cannot CREATE the metadata table ${ident.name()} — `$$$kind` views " +
          "derive from the base table")
      case None => ()
    }
    val (schema, defaults) = plainSchemaOf(columns, allowGenerated = true)
    val generated = columns.flatMap { c =>
      Option(c.generationExpression()).map { sql =>
        require(sql.nonEmpty,
          s"GENERATED ALWAYS AS for ${c.name()} carries no SQL text")
        c.name() -> sql
      }
    }.toMap
    val spec = GraftTableCatalog.specOfTransforms(partitions, schema)
    val branch = branchOf(ident.namespace())
    val created =
      if (generated.isEmpty)
        cat.createTableIfNotExists(ident.name(), schema, branch, spec, defaults)
      else cat.createTableGenerated(ident.name(), schema, generated, branch,
        spec, defaults)
    if (!created)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Array(catalogName, branch, ident.name()))
    loadTable(ident)
  }

  /** Plain schema + CREATE-time column WRITE defaults (W71). Generation
    * expressions (W87) are read by plain CREATE TABLE only — staged
    * CTAS/RTAS refuse them (the SELECT supplies every column; silently
    * overriding it with the generation would be a trap). */
  private def plainSchemaOf(
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      allowGenerated: Boolean = false)
      : (StructType, Map[String, String]) = {
    require(allowGenerated || columns.forall(_.generationExpression() == null),
      "staged CREATE/REPLACE ... AS SELECT cannot declare GENERATED columns — " +
        "create the table first, then INSERT")
    val defaults = columns.flatMap { c =>
      Option(c.defaultValue()).map { dv =>
        val sql = dv.getSql
        require(sql != null && sql.nonEmpty,
          s"DEFAULT for ${c.name()} carries no SQL text")
        c.name() -> sql
      }
    }.toMap
    (StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable()))),
      defaults)
  }

  /** CTAS lands here (Spark stages CREATE TABLE AS SELECT on any
    * [[StagingTableCatalog]]): NOTHING is committed until the write
    * succeeds, so `CREATE TABLE lake.main.t AS SELECT ...` is refused by
    * the write guard before any metadata lands — no half-created empty
    * table on main (plain metadata-only CREATE TABLE stays allowed there;
    * it is the documented bootstrap path, same as the Scala
    * `createTableIfNotExists`). On a write failure after the staged
    * create committed, [[GraftStagedTable.abortStagedChanges]] drops the
    * residue. */
  override def stageCreate(
      ident: Identifier, info: TableInfo): StagedTable = {
    val (schema, ctasDefaults) = plainSchemaOf(info.columns())
    require(ctasDefaults.isEmpty,
      "staged CREATE (CTAS) cannot declare column defaults — create the table " +
        "first, then INSERT")
    val spec = GraftTableCatalog.specOfTransforms(info.partitions(), schema)
    val branch = branchOf(ident.namespace())
    if (cat.tableExists(ident.name(), branch))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Array(catalogName, branch, ident.name()))
    GraftStagedTable(root, branch, ident.name(), schema, mainWritesAllowed,
      if (spec.isEmpty) None else Some(graft.wap.PartitionSpec.formatMulti(spec)))
  }

  /** `REPLACE TABLE ... AS SELECT` (Iceberg RTAS): an atomic whole-table
    * swap — schema, layout, content — that PRESERVES snapshot lineage
    * (time travel reaches pre-replace history). Nothing commits until
    * the write runs, same staging discipline as CTAS. */
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    val (schema, defaults) = plainSchemaOf(info.columns())
    require(defaults.isEmpty,
      "staged REPLACE cannot declare column defaults — ALTER after the replace")
    val branch = branchOf(ident.namespace())
    if (!cat.tableExists(ident.name(), branch))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName, branch, ident.name()))
    val spec = GraftTableCatalog.specOfTransforms(info.partitions(), schema)
    GraftStagedTable(root, branch, ident.name(), schema, mainWritesAllowed,
      if (spec.isEmpty) None else Some(graft.wap.PartitionSpec.formatMulti(spec)),
      mode = GraftStagedTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable = {
    val (schema, defaults) = plainSchemaOf(info.columns())
    require(defaults.isEmpty,
      "staged CREATE OR REPLACE cannot declare column defaults")
    val branch = branchOf(ident.namespace())
    val spec = GraftTableCatalog.specOfTransforms(info.partitions(), schema)
    GraftStagedTable(root, branch, ident.name(), schema, mainWritesAllowed,
      if (spec.isEmpty) None else Some(graft.wap.PartitionSpec.formatMulti(spec)),
      mode = GraftStagedTable.CreateOrReplace)
  }

  /** `ALTER TABLE ... ADD COLUMN` (nullable, top-level) and
    * `ALTER COLUMN ... TYPE` (lossless widenings) — both lower onto
    * [[BranchCatalog.evolveSchema]], which enforces the same rules for
    * SQL and Scala callers (no drops/renames; added columns nullable;
    * widenings only). Metadata-only, one commit. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val branch = branchOf(ident.namespace())
    val name = ident.name()
    val id = cat.snapshotIdOf(name, branch).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName, branch, name)))
    // `SET/UNSET TBLPROPERTIES` — branch-versioned metadata, one refs
    // commit, no snapshot. Validated here so a typo'd delete mode fails
    // at ALTER time, not at the first DELETE.
    val propChanges: Map[String, String] = changes.collect {
      case set: TableChange.SetProperty =>
        if (set.property() == "write.delete.mode" || set.property() == "write.update.mode" ||
            set.property() == "write.merge.mode")
          require(Set("copy-on-write", "merge-on-read").contains(set.value()),
            s"${set.property()} must be copy-on-write or merge-on-read, got ${set.value()}")
        set.property() -> set.value()
      case rm: TableChange.RemoveProperty => rm.property() -> "" // empty = unset
    }.toMap
    // `ALTER TABLE ... RENAME COLUMN` — one metadata commit through
    // renameColumn (the column keeps its field id; old files resolve by
    // id — W58). Rename is its own commit path, so it may not mix with
    // add/drop/widen in one ALTER (SQL never produces such a mix).
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    renames.foreach { r =>
      require(r.fieldNames().length == 1,
        "graft columns are top-level; nested RENAME COLUMN is not supported")
    }
    // `ALTER COLUMN ... SET/DROP DEFAULT` — write-default only (the
    // initial default is pinned at ADD COLUMN; Iceberg v3 semantics)
    val defaultChanges = changes.collect {
      case d: TableChange.UpdateColumnDefaultValue =>
        require(d.fieldNames().length == 1,
          "graft columns are top-level; nested ALTER COLUMN is not supported")
        val sql = Option(d.newCurrentDefault()).map(_.getSql)
          .orElse(Option(d.newDefaultValue())).map(_.trim).filter(_.nonEmpty)
        d.fieldNames().head -> sql
    }
    // `ALTER TABLE ... ADD CONSTRAINT n CHECK (expr)` / `DROP CONSTRAINT`
    // — the SQL surface of W70: lowered onto `graft.constraint.<name>`
    // properties. Spark's AddCheckConstraintExec has ALREADY validated
    // existing rows against the predicate before calling here (its scan
    // runs over the connector scan of this table);
    // every later write then enforces the stored constraint row-level,
    // so NOT ENFORCED is refused rather than recorded-and-ignored.
    val constraintProps: Map[String, String] = changes.collect {
      case add: TableChange.AddConstraint => add.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          require(c.enforced(),
            s"graft CHECK constraints are always enforced; drop NOT ENFORCED " +
              s"from ${c.name()} or do not add it")
          val sql = Option(c.predicateSql()).map(_.trim).filter(_.nonEmpty)
            .getOrElse(throw new IllegalArgumentException(
              s"CHECK constraint ${c.name()} carries no predicate SQL"))
          val key = graft.wap.BranchCatalog.ConstraintPrefix + c.name()
          if (cat.tableProperties(name, branch).contains(key))
            throw new IllegalArgumentException(
              s"constraint ${c.name()} already exists on $name — DROP it first")
          key -> sql
        case other => throw new UnsupportedOperationException(
          s"graft enforces CHECK constraints only (informational " +
            s"PRIMARY KEY/UNIQUE/FOREIGN KEY are not recorded): ${other.toDDL}")
      }
      case drop: TableChange.DropConstraint =>
        val key = graft.wap.BranchCatalog.ConstraintPrefix + drop.name()
        if (!cat.tableProperties(name, branch).contains(key) && !drop.ifExists())
          throw new IllegalArgumentException(
            s"no constraint ${drop.name()} on $name")
        key -> "" // empty = unset
    }.toMap
    val schemaChanges = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnDefaultValue] ||
        c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint])
    require(renames.isEmpty || schemaChanges.isEmpty,
      "RENAME COLUMN cannot be combined with other schema changes in one ALTER")
    // defaults riding ADD COLUMN become the column's INITIAL + write
    // default (old files serve it instead of NULL — W71)
    val addDefaults = schemaChanges.collect {
      case add: TableChange.AddColumn if add.defaultValue() != null =>
        val sql = add.defaultValue().getSql
        require(sql != null && sql.nonEmpty,
          s"DEFAULT for ${add.fieldNames().mkString(".")} carries no SQL text")
        add.fieldNames().head -> sql
    }.toMap
    val evolved = schemaChanges.foldLeft(cat.schemaOfSnapshot(name, id)) { (schema, change) =>
      change match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            "graft columns are top-level; nested ADD COLUMN is not supported")
          require(add.isNullable, s"added column ${add.fieldNames().head} must be nullable")
          StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
            add.fieldNames().head, add.dataType(), nullable = true))
        case upd: TableChange.UpdateColumnType =>
          require(upd.fieldNames().length == 1,
            "graft columns are top-level; nested ALTER COLUMN is not supported")
          StructType(schema.fields.map(f =>
            if (f.name == upd.fieldNames().head) f.copy(dataType = upd.newDataType()) else f))
        case del: TableChange.DeleteColumn =>
          // metadata-only drop; evolveSchema guards the partition source,
          // pending MOR keys, and the re-add-by-name hazard
          require(del.fieldNames().length == 1,
            "graft columns are top-level; nested DROP COLUMN is not supported")
          require(schema.fieldNames.contains(del.fieldNames().head),
            s"no column ${del.fieldNames().head} to drop")
          StructType(schema.fields.filterNot(_.name == del.fieldNames().head))
        case other =>
          throw new UnsupportedOperationException(
            s"unsupported ALTER TABLE change $other: graft schema evolution " +
              "accepts ADD COLUMN (nullable), DROP COLUMN, and type widenings only")
      }
    }
    // Schema changes commit FIRST: a mixed ALTER whose schema part fails
    // (validated in the fold above and in evolveSchema's guards) must not
    // leave the property change durably applied.
    if (schemaChanges.nonEmpty) cat.evolveSchema(name, evolved, branch, addDefaults)
    renames.foreach(r => cat.renameColumn(name, r.fieldNames().head, r.newName(), branch))
    defaultChanges.foreach { case (c, sql) => cat.setColumnDefault(name, c, sql, branch) }
    if (propChanges.nonEmpty) cat.setTableProperties(name, propChanges, branch)
    // parse + column binding re-validate inside setTableProperties, so a
    // refusal names the constraint either way
    if (constraintProps.nonEmpty) cat.setTableProperties(name, constraintProps, branch)
    loadTable(ident)
  }

  // ---- views = branch-versioned definitions (the Nessie view surface) ----

  /** `CREATE VIEW <cat>.<branch>.v AS SELECT ...` — the definition is
    * versioned IN THE BRANCH like a table pointer: branching copies it
    * zero-copy, `merge` publishes it, and a view over branch tables
    * re-analyzes at read time so it follows the branch's data. Tag
    * namespaces carry no views (a tag pins table snapshots; a view is a
    * definition that would re-resolve against live state, which is
    * exactly what a tag must not do). */
  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (tagOf(ns).isDefined) Array.empty
    else cat.listViews(branchOf(ns)).map(Identifier.of(ns, _)).toArray
  }

  override def loadView(ident: Identifier): View = {
    if (tagOf(ident.namespace()).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    cat.viewDef(ident.name(), branchOf(ident.namespace())) match {
      case Some(d) => GraftView(ident.name(), d)
      case None =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    }
  }

  override def createView(info: ViewInfo): View = {
    val b = branchOf(info.ident.namespace())
    if (cat.viewDef(info.ident.name(), b).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    cat.createView(info.ident.name(), defOf(info), b)
    loadView(info.ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val b = branchOf(info.ident.namespace())
    if (!orCreate && cat.viewDef(info.ident.name(), b).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident)
    cat.createView(info.ident.name(), defOf(info), b, replace = true)
    loadView(info.ident)
  }

  private def defOf(info: ViewInfo): graft.wap.ViewDef =
    graft.wap.ViewDef(info.sql, info.currentCatalog,
      Option(info.currentNamespace).map(_.toSeq).getOrElse(Nil),
      info.schema.toDDL,
      Option(info.queryColumnNames).map(_.toSeq).getOrElse(Nil),
      Option(info.columnAliases).map(_.toSeq).getOrElse(Nil),
      Option(info.columnComments).map(_.toSeq.map(c => if (c == null) "" else c)).getOrElse(Nil),
      Option(info.properties).map(_.asScala.toMap).getOrElse(Map.empty))

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val b = branchOf(ident.namespace())
    val d = cat.viewDef(ident.name(), b).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val next = changes.foldLeft(d) { (acc, ch) =>
      ch match {
        case set: ViewChange.SetProperty =>
          acc.copy(properties = acc.properties.updated(set.property(), set.value()))
        case rm: ViewChange.RemoveProperty =>
          acc.copy(properties = acc.properties - rm.property())
        case other =>
          throw new UnsupportedOperationException(s"unsupported ALTER VIEW change $other")
      }
    }
    cat.createView(ident.name(), next, b, replace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    tagOf(ident.namespace()).isEmpty &&
      cat.dropView(ident.name(), branchOf(ident.namespace()))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().sameElements(newIdent.namespace()),
      "RENAME VIEW cannot move a view across branches")
    cat.renameView(oldIdent.name(), newIdent.name(), branchOf(oldIdent.namespace()))
  }

  // ---- maintenance procedures (`CALL <cat>.system.<proc>(...)`) ----------

  /** `CALL lake.system.expire_snapshots('t')` etc — see
    * [[GraftProcedures]]. `system` is a reserved pseudo-namespace (it
    * can never collide: branches with that name are legal but tables
    * and procedures resolve through different plans). */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(GraftProcedures.namespace),
      s"procedures live under $catalogName.system, got " +
        (ident.namespace() :+ ident.name()).mkString("."))
    GraftProcedures.load(root, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(GraftProcedures.namespace)) Array.empty
    else GraftProcedures.names.map(Identifier.of(GraftProcedures.namespace, _)).toArray

  // ---- functions (the transform vocabulary, for storage-partitioned joins)

  /** Spark resolves a scan's KeyGroupedPartitioning transforms against
    * the owning catalog's functions (`loadFunction(Identifier(<empty>,
    * "bucket"))` from V2ExpressionUtils) — without this, two co-bucketed
    * graft tables could never storage-partition-join. The bound function
    * computes exactly the writer's transform
    * ([[graft.wap.BucketPartition.valueCol]]). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") GraftBucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def dropTable(ident: Identifier): Boolean =
    cat.dropTable(ident.name(), branchOf(ident.namespace()))

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(branchOf(oldIdent.namespace()) == branchOf(newIdent.namespace()),
      "RENAME cannot move a table across branches (merge the branch instead)")
    cat.renameTable(oldIdent.name(), newIdent.name(), branchOf(oldIdent.namespace()))
  }
}

object GraftTableCatalog {
  import org.apache.spark.sql.connector.expressions.{Expressions, Literal => VLiteral, NamedReference}
  import graft.wap.{BucketPartition, DayPartition, HourPartition, MonthPartition, PartitionSpec, TruncatePartition, IdentityPartition}

  /** SQL `PARTITIONED BY` transforms -> graft's hidden
    * [[graft.wap.PartitionSpec]]. graft specs are single-transform
    * (one `pv` per file), so exactly one transform is accepted;
    * unsupported shapes are refused AT CREATE with the Scala
    * alternative named — never silently dropped (a user who declared a
    * layout must not end up with an unpartitioned table). */
  private[sql] def specOfTransforms(
      partitions: Array[Transform], schema: StructType): Seq[PartitionSpec] = {
    val specs = partitions.toSeq.map(specOfTransform(_, schema))
    require(specs.map(_.column).distinct.size == specs.size,
      s"each partition transform needs its own source column, got " +
        partitions.mkString(", "))
    specs
  }

  private def specOfTransform(t: Transform, schema: StructType): PartitionSpec = {
    val args = t.arguments().toSeq
    val refs = args.collect {
      case n: NamedReference =>
        require(n.fieldNames().length == 1,
          s"graft partition columns are top-level, got ${n.describe()}")
        n.fieldNames().head
    }
    val nums = args.collect { case l: VLiteral[_] => l.value.toString.toInt }
    def col1: String = {
      require(refs.length == 1 && nums.isEmpty,
        s"transform ${t.describe()} takes exactly one column argument")
      refs.head
    }
    def numAndCol: (Int, String) = {
      require(refs.length == 1 && nums.length == 1,
        s"transform ${t.describe()} takes one integer and one column argument")
      (nums.head, refs.head)
    }
    val fmt = t.name().toLowerCase match {
      case "day" | "days" => s"day($col1)"
      case "month" | "months" => s"month($col1)"
      case "hour" | "hours" => s"hour($col1)"
      case "bucket" => val (n, c) = numAndCol; s"bucket($n,$c)"
      case "truncate" => val (w, c) = numAndCol; s"truncate($w,$c)"
      case "identity" => s"identity($col1)"
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform $other(${args.map(_.describe()).mkString(", ")}): " +
          "graft supports identity(col), days/months/hours(ts), bucket(n, col), " +
          "truncate(w, col)")
    }
    val spec = PartitionSpec.parse(fmt)
    require(schema.fieldNames.contains(spec.column),
      s"partition column ${spec.column} is not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    spec match {
      case IdentityPartition(c) => // timestamp identity refuses at CREATE
        spec.valueCol(schema(c).dataType)
      case _ => ()
    }
    spec
  }

  /** The committed spec rendered back as a connector transform, so
    * `DESCRIBE TABLE` / `Table.partitioning()` show the declared layout. */
  private[sql] def transformsOfSpec(fmt: Option[String]): Array[Transform] =
    fmt.toSeq.flatMap(PartitionSpec.parseFields).filter(_.active).map(_.spec).map {
      case DayPartition(c) => Expressions.days(c)
      case MonthPartition(c) => Expressions.months(c)
      case HourPartition(c) => Expressions.hours(c)
      case BucketPartition(n, c) => Expressions.bucket(n, c)
      case TruncatePartition(w, c) =>
        Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
      case IdentityPartition(c) => Expressions.identity(c)
    }.toArray
}

/** One pinned (branch, snapshot) of a catalog table. Pure metadata — the
  * read plan is built on demand by [[newScanBuilder]]. */
case class GraftTable(
    root: String, branch: String, tableName: String,
    snapshotId: String, tableSchema: StructType,
    mainWritesAllowed: Boolean = false,
    /** Serialized hidden-partition spec of the pinned snapshot (e.g.
      * "bucket(8,doc_id)") — surfaces through [[partitioning]] and
      * routes SQL inserts through `appendPartitioned`. */
    partitionSpecFmt: Option[String] = None,
    /** True when `branch` is actually an IMMUTABLE tag
      * ([[graft.wap.BranchCatalog.createTag]]): reads are the ordinary
      * pinned-snapshot plan, every write/DML/streaming path refuses. */
    isTag: Boolean = false,
    /** Branch-versioned table properties ([[graft.wap.BranchCatalog
      * .tableProperties]]) — `write.delete.mode=merge-on-read` routes
      * SQL DELETE through position sidecars instead of copy-on-write. */
    storedProps: Map[String, String] = Map.empty)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = s"$branch.$tableName"
  override def schema(): StructType = tableSchema

  /** The pinned snapshot's metadata document, loaded ONCE per table
    * handle: the planning hooks (pushTopN, keyedPlan, outputOrdering,
    * metadata aggregates) each consult it, and a snapshot is immutable
    * under its id, so re-reading it per planning call is repeated driver
    * work for the same bytes. */
  @transient lazy val snapMeta: graft.wap.Snapshot =
    new BranchCatalog(SparkSession.active, root).snapshotMeta(tableName, snapshotId)
  override def partitioning(): Array[Transform] =
    GraftTableCatalog.transformsOfSpec(partitionSpecFmt)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      // `MERGE INTO ... WITH SCHEMA EVOLUTION`: the analyzer
      // (ResolveMergeIntoSchemaEvolution) computes the AddColumn/widen
      // TableChanges from the source schema and applies them through
      // alterTable -> evolveSchema (all its guards hold), then re-resolves
      // the merge against the evolved table
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def properties(): util.Map[String, String] =
    (storedProps ++
      Map("root" -> root, "branch" -> branch, "snapshot" -> snapshotId)).asJava

  /** Report W70 CHECK constraints through the DSv2 surface so
    * `DESCRIBE TABLE EXTENDED` lists them and the analyzer sees
    * duplicate names at ADD CONSTRAINT time. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    storedProps.toSeq.collect {
      case (k, v) if k.startsWith(graft.wap.BranchCatalog.ConstraintPrefix) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix(graft.wap.BranchCatalog.ConstraintPrefix))
          .predicateSql(v).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.sortBy(_.name()).toArray

  /** The connector read path. Read options:
    *  - `graft.changes.from` (+ optional `graft.changes.to`, default =
    *    this pinned snapshot): serve the INCREMENTAL append delta of the
    *    snapshot window instead of the full table — the SQL/DataFrame
    *    surface of [[BranchCatalog.changedFilesBetween]] (W27/W46):
    *    {{{ spark.read.option("graft.changes.from", id).table("lake.main.t") }}}
    *    Pushed filters prune WITHIN the window; pending MOR tombstones
    *    refuse loudly (deltas are append-granular).
    *  - `maxFilesPerTrigger`: streaming admission control. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // window endpoints by snapshot id, or (the Delta startingTimestamp
    // analogue) by epoch-millis instant — each resolves to the LAST
    // snapshot at or before it, same rule as the streaming source's
    // graft.changes.startTimestamp
    val fromId = Option(options.get("graft.changes.from"))
    val toId = Option(options.get("graft.changes.to"))
    val fromTs = Option(options.get("graft.changes.fromTimestamp")).map(_.toLong)
    val toTs = Option(options.get("graft.changes.toTimestamp")).map(_.toLong)
    require(fromId.isEmpty || fromTs.isEmpty,
      "graft.changes.from and graft.changes.fromTimestamp are alternative " +
        "window starts — pick one")
    require(toId.isEmpty || toTs.isEmpty,
      "graft.changes.to and graft.changes.toTimestamp are alternative " +
        "window ends — pick one")
    def asOf(ms: Long): String =
      new BranchCatalog(SparkSession.active, root).snapshotIdAsOf(tableName, ms, branch)
    // endpoints given as TAG names resolve to the tag's pinned snapshot
    // ("what changed between release v1 and v2"); tags share the ref
    // namespace, so the name lookup is unambiguous
    def byRef(s: String): String =
      new BranchCatalog(SparkSession.active, root)
        .listTags().find(_ == s)
        .flatMap(t => new BranchCatalog(SparkSession.active, root)
          .snapshotIdAtTag(tableName, t)).getOrElse(s)
    val from = fromId.map(byRef).orElse(fromTs.map(asOf))
    val to = toId.map(byRef).orElse(toTs.map(asOf))
    require(from.isDefined || to.isEmpty,
      "graft.changes.to needs graft.changes.from (an incremental window has a start)")
    new GraftScanBuilder(this,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      from.map(f => (f, to.getOrElse(snapshotId))))
  }

  private def requireWritable(op: String): Unit = {
    require(!isTag,
      s"SQL $op on $tableName@$branch refused: $branch is a TAG — tags are " +
        "immutable release points; write to a branch and re-tag instead")
    require(branch != "main" || mainWritesAllowed,
      s"SQL $op on $tableName@main is disabled: main only changes through " +
        "write-audit-publish (run it on a branch namespace and publish, or " +
        "set spark.sql.catalog.<name>.write.main=true)")
  }

  /** `DELETE FROM` — lowered onto [[BranchCatalog.deleteWhere]]
    * (copy-on-write: stats-bounded file rewrite) by default, or onto
    * [[BranchCatalog.deleteWherePositional]] (merge-on-read position
    * sidecars — no data file rewritten) when the table carries
    * `write.delete.mode=merge-on-read` (set via `ALTER TABLE ... SET
    * TBLPROPERTIES`, the Iceberg property of the same name). Either
    * way under the same branch guard as inserts, and the predicate must
    * convert in FULL ([[GraftScanBuilder.toColumnExact]] — a weakened
    * predicate would over-delete); unsupported shapes are refused at
    * analysis time via [[canDeleteWhere]]. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(f => GraftScanBuilder.toColumnExact(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    requireWritable("DELETE")
    val cols = filters.map(f => GraftScanBuilder.toColumnExact(f).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE predicate $f is not expressible against $tableName — " +
          "use the Scala API (BranchCatalog.deleteWhere) for arbitrary conditions")))
    val cond = cols.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)) // DELETE FROM t (no WHERE)
    val cat = new BranchCatalog(SparkSession.active, root)
    if (storedProps.get("write.delete.mode").contains("merge-on-read"))
      cat.deleteWherePositional(tableName, cond, branch)
    else cat.deleteWhere(tableName, cond, branch)
    ()
  }

  /** `INSERT INTO` = [[BranchCatalog.append]]; `INSERT OVERWRITE` (via
    * the TRUNCATE capability) = [[BranchCatalog.overwrite]]. Both are
    * ordinary catalog commits — snapshot isolation, O(batch) metadata —
    * through the connector's V1 write bridge (the df is handed over
    * whole; no per-row boundary). Writes target THIS table's branch and
    * are refused on main unless the catalog opts in — publish a branch
    * with the WAP flow instead (that is the reference's contract). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              requireWritable("writes")
              val cat = new BranchCatalog(data.sparkSession, root)
              // append routes partitioned tables through the partitioned
              // writer by the HEAD's own field registry (r14: ids may
              // differ from positions after spec evolution), so
              // SQL-written files carry transform values and prune like
              // Scala-written ones. overwrite() is already spec-aware.
              if (overwrite) cat.overwrite(tableName, data, branch)
              else cat.append(tableName, data, branch)
              ()
            }
          }
        /** `writeStream.toTable` — see [[GraftStreamingWrite]] (audited
          * WAP publishes to main, raw staging appends to branches). */
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new GraftStreamingWrite(GraftTable.this, info)
      }
    }
}

/** SQL-visible metadata tables (the Iceberg `t$snapshots` / `t$files` /
  * `t$history` analogue) — every operator debugging a table asks for
  * these through SQL, not a Scala API:
  *
  * {{{
  *   SELECT * FROM lake.main.`events$snapshots`  -- lineage + per-commit sizes
  *   SELECT * FROM lake.main.`events$files`      -- current data files + stats
  *   SELECT * FROM lake.main.`events$history`    -- head per catalog commit
  * }}}
  *
  * `snapshots` and `history` are O(history) driver metadata (the same
  * walks `commitHistory`/`headHistory` make); `files` is the DISTRIBUTED
  * manifest-entry read — per-file metadata of a 100 TB table never
  * lands on the driver. Read-only; pinned at the branch head like any
  * other load. */
case class GraftMetadataTable(
    root: String, branch: String, baseTable: String, kind: String,
    snapshotId: String) extends Table with SupportsRead {
  import GraftMetadataTable._

  override def name(): String = s"$branch.$baseTable$$$kind"
  override def schema(): StructType = schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def properties(): util.Map[String, String] =
    Map("root" -> root, "branch" -> branch, "snapshot" -> snapshotId).asJava

  private[sql] def df(spark: SparkSession): DataFrame = {
    val cat = new BranchCatalog(spark, root)
    kind match {
      case "snapshots" =>
        val chain = Iterator.iterate(cat.snapshotMetaOpt(baseTable, snapshotId)) {
          case Some(s) => s.parentId.flatMap(cat.snapshotMetaOpt(baseTable, _))
          case None => None
        }.takeWhile(_.isDefined).flatten.toSeq.reverse // oldest first
        val rows = chain.map(s => Row(s.id, s.parentId.orNull, s.seq,
          s.committedAtMillis, s.op, s.manifests.size.toLong,
          s.manifests.map(_.fileCount).sum, s.manifests.map(_.rows).sum,
          s.deleteManifests.size.toLong))
        spark.createDataFrame(
          new java.util.ArrayList[Row](rows.asJava), schemaOf(kind))
      case "files" =>
        cat.manifestEntries(cat.snapshotMeta(baseTable, snapshotId))
      case "partitions" =>
        // per-partition-value rollup of the DISTRIBUTED manifest-entry
        // read (Iceberg `$partitions`): executors parse manifests, one
        // aggregate produces O(partitions) rows — per-file metadata of a
        // 100 TB table never lands on the driver. Unpartitioned files
        // roll up under a NULL partition value.
        import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit, sum, try_element_at}
        val snapMeta = cat.snapshotMeta(baseTable, snapshotId)
        // multi-transform layouts report the FULL value tuple, outermost
        // first, "/"-joined (a per-level null renders as "null")
        val pvFields = snapMeta.partitionSpec.toSeq
          .flatMap(graft.wap.PartitionSpec.parseFields)
        val pvExpr =
          if (pvFields.size <= 1) try_element_at(col("partition"), lit("pv"))
          else concat_ws("/", pvFields.map(f => coalesce(
            try_element_at(col("partition"), lit(f.key)), lit("null"))): _*)
        cat.manifestEntries(snapMeta)
          .select(pvExpr.as("partition"),
            col("rows"), col("bytes"))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("rows")).as("n_rows"),
            sum(col("bytes")).as("bytes"))
          .withColumn("spec", lit(snapMeta.partitionSpec.orNull))
          .select("partition", "n_files", "n_rows", "bytes", "spec")
      case "manifests" =>
        // one row per manifest REF of the pinned snapshot — the unit
        // manifest-list pruning works on: its coverage-aware bounds are
        // what a selective scan consults before reading entries
        val snapMeta2 = cat.snapshotMeta(baseTable, snapshotId)
        val rows = snapMeta2.manifests.map(m =>
          Row(m.path, m.fileCount, m.rows, m.bytes, m.seq, m.statsV,
            m.lower.keys.toSeq.sorted.mkString(","),
            m.keyCols.mkString(",")))
        spark.createDataFrame(
          new java.util.ArrayList[Row](rows.asJava), schemaOf(kind))
      case "refs" =>
        // every branch and tag carrying this table (Iceberg `$refs`):
        // O(refs) driver metadata, the catalog's whole ref surface in
        // one queryable view
        val rows =
          cat.listBranches().flatMap(b =>
            cat.snapshotIdOf(baseTable, b).map(id => Row(b, "branch", id))) ++
          cat.listTags().flatMap(t =>
            cat.tagTables(t).get(baseTable).map(id => Row(t, "tag", id)))
        spark.createDataFrame(
          new java.util.ArrayList[Row](rows.asJava), schemaOf(kind))
      case "history" =>
        val rows = cat.headHistory(baseTable, branch).map { case (v, head) =>
          Row(v, head.orNull, head.contains(snapshotId))
        }
        spark.createDataFrame(
          new java.util.ArrayList[Row](rows.asJava), schemaOf(kind))
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schemaOf(kind)
        override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: StructType = schemaOf(kind)
            override def buildScan(): RDD[Row] = df(ctx.sparkSession).rdd
          }.asInstanceOf[T]
      }
    }
}

object GraftMetadataTable {
  import org.apache.spark.sql.types._

  private val kinds =
    Set("snapshots", "files", "history", "partitions", "refs", "manifests",
      "changes") // resolved to GraftChangesTable, not a metadata table

  /** `name$kind` -> (name, kind) when `kind` is a metadata table. */
  def kindOf(ident: String): Option[(String, String)] = ident.split('$') match {
    case Array(base, kind) if base.nonEmpty && kinds(kind) => Some((base, kind))
    case _ => None
  }

  private[sql] def schemaOf(kind: String): StructType = kind match {
    case "snapshots" => StructType(Seq(
      StructField("snapshot_id", StringType), StructField("parent_id", StringType),
      StructField("seq", LongType), StructField("committed_at", LongType),
      StructField("operation", StringType),
      StructField("n_manifests", LongType), StructField("n_files", LongType),
      StructField("n_rows", LongType), StructField("n_delete_manifests", LongType)))
    // the one shared definition: a manifest-entry field added in a
    // future round reaches the SQL surface automatically (schema drift
    // between the scan declaration and the served rows would be a
    // runtime-only failure)
    case "files" => BranchCatalog.manifestEntrySchema
    case "partitions" => StructType(Seq(
      StructField("partition", StringType), StructField("n_files", LongType),
      StructField("n_rows", LongType), StructField("bytes", LongType),
      StructField("spec", StringType)))
    case "refs" => StructType(Seq(
      StructField("ref", StringType), StructField("kind", StringType),
      StructField("snapshot_id", StringType)))
    case "manifests" => StructType(Seq(
      StructField("path", StringType), StructField("n_files", LongType),
      StructField("n_rows", LongType), StructField("bytes", LongType),
      StructField("seq", LongType), StructField("stats_v", IntegerType),
      StructField("bounded_columns", StringType),
      StructField("tombstone_keys", StringType)))
    case "history" => StructType(Seq(
      StructField("refs_version", LongType), StructField("snapshot_id", StringType),
      StructField("is_current", BooleanType)))
  }
}

/** V2 View backed by a branch-stored [[graft.wap.ViewDef]]: Spark
  * re-parses `query` under the stored catalog/namespace context at read
  * time, so the view tracks its branch's live tables. */
case class GraftView(viewName: String, d: graft.wap.ViewDef) extends View {
  override def name(): String = viewName
  override def query(): String = d.sql
  override def currentCatalog(): String = d.currentCatalog
  override def currentNamespace(): Array[String] = d.currentNamespace.toArray
  override def schema(): StructType = StructType.fromDDL(d.schemaDdl)
  override def queryColumnNames(): Array[String] = d.queryColumnNames.toArray
  override def columnAliases(): Array[String] = d.columnAliases.toArray
  override def columnComments(): Array[String] = d.columnComments.toArray
  override def properties(): util.Map[String, String] = d.properties.asJava
}

/** The staged side of an atomic CTAS ([[GraftTableCatalog.stageCreate]]):
  * holds the would-be table's shape, commits NOTHING until the write
  * runs. The write path re-checks the branch guard FIRST, so a refused
  * main write aborts before any catalog commit; if the create commits
  * and a later step fails, Spark calls [[abortStagedChanges]] and the
  * residue is dropped — either way no empty table survives a failed
  * CTAS. */
case class GraftStagedTable(
    root: String, branch: String, tableName: String,
    tableSchema: StructType, mainWritesAllowed: Boolean,
    partitionSpecFmt: Option[String] = None,
    mode: GraftStagedTable.Mode = GraftStagedTable.Create)
  extends StagedTable with SupportsWrite {

  @volatile private var created = false

  override def name(): String = s"$branch.$tableName (staged)"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    GraftTableCatalog.transformsOfSpec(partitionSpecFmt)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def properties(): util.Map[String, String] =
    Map("root" -> root, "branch" -> branch).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // a staged table is empty
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              require(branch != "main" || mainWritesAllowed,
                s"SQL CTAS on $tableName@main is disabled: main only changes " +
                  "through write-audit-publish (run it on a branch namespace and " +
                  "publish, or set spark.sql.catalog.<name>.write.main=true)")
              val cat = new BranchCatalog(data.sparkSession, root)
              val specs = partitionSpecFmt.toSeq.flatMap(graft.wap.PartitionSpec.parseMulti)
              val replace = mode match {
                case GraftStagedTable.Replace => true
                case GraftStagedTable.CreateOrReplace =>
                  cat.tableExists(tableName, branch)
                case GraftStagedTable.Create => false
              }
              if (replace) {
                // RTAS: one atomic lineage-preserving swap (W85)
                cat.replaceTable(tableName, data, branch, specs)
                ()
              } else {
                created = cat.createTableIfNotExists(tableName, tableSchema, branch, specs)
                if (!created) throw new org.apache.spark.sql.catalyst.analysis
                  .TableAlreadyExistsException(Array(branch, tableName))
                specs match {
                  case Seq() => cat.append(tableName, data, branch)
                  case ps => cat.appendPartitioned(tableName, data, ps, branch)
                }
              }
              ()
            }
          }
      }
    }

  /** The create + append above each committed atomically; nothing left
    * to flip. */
  override def commitStagedChanges(): Unit = ()

  override def abortStagedChanges(): Unit =
    if (created) {
      new BranchCatalog(SparkSession.active, root).dropTable(tableName, branch)
      ()
    } // a failed REPLACE committed nothing: replaceTable is one atomic swap
}

object GraftStagedTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

private class GraftScanBuilder(
    t: GraftTable, maxFilesPerTrigger: Option[Int] = None,
    /** (fromId, toId) of an incremental-changes window read — see
      * [[GraftTable.newScanBuilder]]. */
    changes: Option[(String, String)] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = t.schema()
  private var pushed: Array[sources.Filter] = Array.empty
  /** Set by [[pushAggregation]] when the WHOLE aggregate answered from
    * snapshot metadata: (result schema, catalyst-internal rows — one for
    * a global aggregate, one per group for GROUP BY). */
  private var aggAnswer: Option[(StructType, Seq[Array[Any]])] = None
  /** The filters Spark re-checks row by row, and the files the exact
    * filters keep when file metadata decided them ([[pushFilters]]). */
  private var residual: Array[sources.Filter] = Array.empty
  private var selected: Option[Seq[graft.wap.DataFileMeta]] = None

  /** Every filter the manifest pruner understands prunes files. A filter
    * is also COMPLETE — Spark drops its row-level re-check — when it
    * converts in full and the pinned snapshot's file metadata proves it
    * for every file the conjunction of such filters keeps
    * ([[BranchCatalog.exactFilters]]): Iceberg's rule for predicates
    * that select whole files. The scan prunes under at least that
    * conjunction, so it plans no file holding a row the filter rejects.
    * A changes window (its rows are a delta, not the snapshot) keeps
    * every filter residual; streaming reads push none. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(f => GraftScanBuilder.toColumn(f).isDefined)
    val exact =
      if (changes.isDefined) Array.empty[(sources.Filter, Column)]
      else filters.flatMap(f => GraftScanBuilder.toColumnExact(f).map(f -> _))
    val proof = new BranchCatalog(SparkSession.active, t.root)
      .exactFilters(t.tableName, t.snapshotId, exact.map(_._2).toSeq)
    selected = proof.map(_._1)
    val complete = proof.toSeq.flatMap(p =>
      exact.map(_._1).zip(p._2).collect { case (f, true) => f }).toSet
    residual = filters.filterNot(complete)
    residual
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** `SELECT ... FROM t LIMIT k` on an UNFILTERED snapshot plans only a
    * file prefix covering k rows ([[BranchCatalog.limitedFiles]] —
    * O(covering manifests) metadata instead of the whole table).
    * PARTIALLY pushed: file granularity over-delivers, Spark's own Limit
    * still trims. Filtered scans refuse (per-file row counts say nothing
    * about matching rows). */
  private var limit: Option[Int] = None
  override def pushLimit(l: Int): Boolean = {
    if (pushed.nonEmpty || changes.isDefined) return false
    limit = Some(l)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** `ORDER BY <sort columns> LIMIT k` on a SORT-COMPACTED snapshot
    * ([[graft.wap.Snapshot.sortOrder]]): the files sit in global range
    * order, so the scan plans only the covering prefix (ascending) or
    * suffix (descending) — one file for a small k on a 100 TB table.
    * Accepted only when the ORDER BY is a prefix of the committed sort
    * order, every key shares one direction, and null ordering is the
    * direction's default (ASC NULLS FIRST / DESC NULLS LAST — the
    * layout's own placement; any other null ordering would rank rows the
    * prefix excludes above rows it holds). PARTIALLY pushed: Spark's own
    * TopK re-sorts and trims, so over-delivery at file granularity and
    * boundary ties stay correct. */
  private var topN: Option[(Int, Boolean)] = None // (k, descending)
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, NamedReference}
    if (pushed.nonEmpty || changes.isDefined || orders.isEmpty) return false
    val snap = t.snapMeta
    if (snap.sortOrder.isEmpty || snap.deleteManifests.nonEmpty) return false
    if (orders.length > snap.sortOrder.length) return false
    val cols = orders.map(_.expression()).map {
      case n: NamedReference if n.fieldNames().length == 1 => Some(n.fieldNames().head)
      case _ => None
    }
    if (cols.exists(_.isEmpty)) return false
    if (!cols.flatten.sameElements(snap.sortOrder.take(orders.length))) return false
    val desc = orders.head.direction() == SortDirection.DESCENDING
    val directionsOk = orders.forall(o =>
      (o.direction() == SortDirection.DESCENDING) == desc &&
        o.nullOrdering() == (if (desc) NullOrdering.NULLS_LAST else NullOrdering.NULLS_FIRST))
    if (!directionsOk) return false
    topN = Some((l, desc))
    true
  }

  /** COUNT(*)/COUNT(col)/MIN/MAX/SUM/AVG, global or GROUP BY, answered
    * from snapshot metadata with zero data IO: an unfiltered global
    * aggregate from per-manifest stats ([[BranchCatalog.metaAggregate]]),
    * any other from per-file stats ([[BranchCatalog
    * .metaAggregateFiles]]) over the files the complete filters keep.
    * Complete-only: either the stats answer every function EXACTLY
    * (coverage-aware bounds + null sums, no pending MOR tombstones, no
    * float/double extrema) or nothing is pushed and Spark plans the
    * ordinary scan+aggregate. Spark only attempts aggregate pushdown
    * when no Filter sits between the aggregate and this scan, so every
    * filter below it must be complete ([[pushFilters]]). */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggAnswer = answer(agg)
    aggAnswer.isDefined
  }

  /** Memoized per Aggregation instance: Spark calls
    * supportCompletePushDown then pushAggregation with the same object,
    * and each answer costs a snapshot-document read. */
  private var answerCache: Option[(AnyRef, Option[(StructType, Seq[Array[Any]])])] = None

  private def answer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = answerCache match {
    case Some((prev, r)) if prev eq agg => r
    case _ =>
      val r = answerUncached(agg)
      answerCache = Some((agg, r))
      r
  }

  private def answerUncached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    import org.apache.spark.sql.connector.expressions.NamedReference
    val spark = SparkSession.active
    // a changes-window read aggregates the DELTA, never the snapshot
    if (changes.isDefined || residual.nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case n: NamedReference if n.fieldNames().length == 1 &&
          t.tableSchema.fieldNames.contains(n.fieldNames().head) =>
          Some(n.fieldNames().head)
        case _ => None
      }
    // GROUP BY columns (W79): Spark's pushed-aggregate contract puts them
    // FIRST in the scan's readSchema, then the aggregate columns
    val groupCols = agg.groupByExpressions().toSeq.map(colOf)
    if (groupCols.exists(_.isEmpty)) return None
    val groups = groupCols.flatten
    val translated = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some((graft.wap.MetaAgg.CountStar: graft.wap.MetaAgg,
          org.apache.spark.sql.types.LongType: org.apache.spark.sql.types.DataType))
      case c: Count if !c.isDistinct =>
        colOf(c.column).map(n => (graft.wap.MetaAgg.CountCol(n),
          org.apache.spark.sql.types.LongType))
      case m: Min => colOf(m.column).map(n =>
        (graft.wap.MetaAgg.MinCol(n), t.tableSchema(n).dataType))
      case m: Max => colOf(m.column).map(n =>
        (graft.wap.MetaAgg.MaxCol(n), t.tableSchema(n).dataType))
      // W80: SUM/AVG over integral columns from per-file sum sidecars —
      // Spark's pushed Sum over an integral input expects LongType and
      // Avg expects DoubleType, which is what the catalog folds produce
      case s: Sum if !s.isDistinct => colOf(s.column).map(n =>
        (graft.wap.MetaAgg.SumCol(n), org.apache.spark.sql.types.LongType))
      case a: Avg if !a.isDistinct => colOf(a.column).map(n =>
        (graft.wap.MetaAgg.AvgCol(n), org.apache.spark.sql.types.DoubleType))
      case _ => None
    }
    if (translated.exists(_.isEmpty)) return None
    val metas = translated.flatten
    val schema = StructType(
      groups.map(g => org.apache.spark.sql.types.StructField(g,
        t.tableSchema(g).dataType, t.tableSchema(g).nullable)) ++
        metas.zipWithIndex.map { case ((_, dt), i) =>
          org.apache.spark.sql.types.StructField(s"agg_$i", dt)
        })
    val cat = new BranchCatalog(spark, t.root)
    if (groups.isEmpty && selected.isEmpty)
      cat.metaAggregate(t.tableName, t.snapshotId, metas.map(_._1))
        .map(values => (schema, Seq(values.toArray)))
    else
      cat.metaAggregateFiles(t.tableName, t.snapMeta, selected, groups, metas.map(_._1))
        // an all-null group under a NOT NULL column (schema/data drift)
        // cannot ride the unsafe row writer — refuse onto the real scan
        .filter(rows => !rows.exists(r => groups.indices.exists(i =>
          r(i) == null && !t.tableSchema(groups(i)).nullable)))
        .map(rows => (schema, rows))
  }

  /** Always the NATIVE DSv2 batch scan (vectorized parquet reader,
    * bin-packed splits, stats the planner can SEE — Spark's
    * V1ScanWrapper does not forward SupportsReportStatistics, so a V1
    * route would always plan with default sizes). Pending MOR tombstones
    * stay on this path too: the scan plans per coverage epoch and its
    * readers anti-probe per-executor key-set builds
    * ([[GraftMorReaderFactory]]) — no per-row V1 boundary between
    * compactions. A pushed metadata aggregate short-circuits to the
    * local [[GraftMetaAggScan]] instead. */
  override def build(): Scan = aggAnswer match {
    case Some((schema, values)) => new GraftMetaAggScan(t, schema, values)
    case None =>
      new GraftBatchScan(t, required, pushed, pushed.filter(residual.contains),
        maxFilesPerTrigger, changes, limit, topN)
  }
}

/** The local scan serving a completely-pushed metadata aggregate: the
  * "SELECT count(*), min(x) FROM <100 TB table>" plan reads NOTHING.
  * Its catalyst-internal rows (one for a global aggregate, one per group
  * for a pushed GROUP BY — W79) are computed on the driver from
  * O(manifests) snapshot metadata, and Spark plans them as a
  * `LocalTableScanExec` — no partition is read. Spark's result
  * projection above it still runs as a one-task job unless
  * [[GraftMetaAggStrategy]] folds it into the local rows (graft
  * sessions). */
private[sql] class GraftMetaAggScan(
    t: GraftTable, aggSchema: StructType, values: Seq[Array[Any]])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft ${t.branch}.${t.tableName} @ ${t.snapshotId} " +
      s"PushedAggregation: metadata-only [${aggSchema.fieldNames.mkString(", ")}]"
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    values.map(v => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(v.clone())
      : org.apache.spark.sql.catalyst.InternalRow).toArray
}

/** Plans the projection Spark puts over a pushed metadata aggregate
  * (result aliases and casts) as one [[org.apache.spark.sql.execution
  * .LocalTableScanExec]] of the projected rows. Without it the
  * projection runs as a one-task Spark job over the local scan; with it
  * `collect` reads the rows on the driver and no Spark job runs.
  *
  * Only a projection that can be evaluated while planning folds: a
  * subquery is planned after the strategies run and a Python UDF is
  * unevaluable, so either leaves the projection to Spark's `ProjectExec`.
  * So does a projection that throws (an ANSI overflow): the error then
  * surfaces when the query runs, not when it is planned or explained. */
private[graft] object GraftMetaAggStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, PlanExpression, Unevaluable, UnsafeProjection}
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation(
        _, scan: GraftMetaAggScan, output, _, _))
        if list.forall(_.deterministic) && !list.exists(_.exists(e =>
          e.isInstanceOf[PlanExpression[_]] ||
            (e.isInstanceOf[Unevaluable] && !e.isInstanceOf[Attribute]))) =>
      try {
        val project = UnsafeProjection.create(list, output)
        Seq(LocalTableScanExec(
          list.map(_.toAttribute), scan.rows().toSeq.map(r => project(r).copy()), None))
      } catch { case scala.util.control.NonFatal(_) => Nil }
    case _ => Nil
  }
}

/** The read path of a pinned snapshot, in every session: manifest-pruned,
  * bin-packed parquet splits through Spark's own reader — no V1 per-row
  * conversion boundary — and planner-visible statistics (row count, byte
  * size, ANALYZE NDV).
  *
  * Pending MOR tombstones ride the SAME scan: files are planned per
  * coverage epoch ([[BranchCatalog.plannedMorEpochs]] — the identical
  * epoch grouping the DataFrame scan makes, so sequence semantics hold),
  * each epoch's partitions carry its equality-delete groups, and the
  * readers anti-probe per-executor key-set hash builds
  * ([[GraftMorReaderFactory]]). A CDC-heavy table between compactions
  * keeps the vectorized read and the pruner. */
private[sql] class GraftBatchScan(
    t: GraftTable, required: StructType, pushed: Array[sources.Filter],
    /** The pushed filters Spark still re-checks above the scan. The
      * others hold for every row of every planned file, so they would
      * skip nothing inside one, and may name columns the scan does not
      * read — which the parquet reader's page filter takes for NULL. */
    rechecked: Array[sources.Filter],
    maxFilesPerTrigger: Option[Int],
    /** (fromId, toId) incremental window — the scan then plans ONLY the
      * window's append delta ([[BranchCatalog.plannedChangedFiles]]):
      * no MOR handling (pending tombstones refuse loudly inside the
      * planner), no reported statistics (the delta's size is not the
      * table's — absent stats beat wrong stats). */
    changes: Option[(String, String)] = None,
    /** Pushed LIMIT (unfiltered snapshot scans only): plan just a file
      * prefix covering this many rows. */
    limit: Option[Int] = None,
    /** Pushed top-k on a sort-ordered snapshot: (k, descending) — plan
      * the covering prefix/suffix in the committed sort order. */
    topN: Option[(Int, Boolean)] = None)
  extends Scan with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private def spark = SparkSession.active

  /** Storage-partitioned joins (W45): when the snapshot is
    * bucket-partitioned, `spark.sql.sources.v2.bucketing.enabled` is on,
    * and EVERY planned file carries its transform value, the scan plans
    * ONE read partition per bucket and reports KeyGroupedPartitioning
    * over `bucket(n, col)` (resolved through the catalog's
    * [[GraftBucketUnbound]] function) — two graft tables co-bucketed on
    * the join key then hash-join with NO shuffle on either side, and a
    * group-by on the key aggregates exchange-free. The 100 TB shape this
    * exists for: fact-fact joins where even one side's shuffle is the
    * dominant cost. Anything short of full coverage — mixed plain
    * appends, pending MOR tombstones, a changes window, bucketing
    * disabled — reports UnknownPartitioning and keeps the ordinary
    * bin-packed plan. Keyed scans opt out of runtime file pruning
    * ([[filterAttributes]] empty) so the reported partition set stays
    * exactly what Spark plans the join around. */
  private lazy val keyedPlan: Option[(Int, String,
      Array[org.apache.spark.sql.connector.read.InputPartition])] =
    if (changes.isDefined || limit.isDefined || topN.isDefined || // a covering prefix is not the keyed set

        // the conf's REGISTERED default (true on Spark 4.x), not a local
        // "false" override: `get(key, "false")` ignores the registered
        // default for unset keys, so a save/restore that materializes
        // the default as an explicit value (conf.getOption resolves
        // defaults) would silently FLIP this decision between otherwise
        // identical sessions — the r11 wap_spj-then-wap_runtime_prune
        // ordering bug. One consistent read: Spark's default governs.
        !spark.conf.get("spark.sql.sources.v2.bucketing.enabled").toBoolean) None
    else t.partitionSpecFmt.toSeq.flatMap(graft.wap.PartitionSpec.parseFields)
      .filter(_.active).collectFirst {
        // a multi-transform layout joins on its (first) ACTIVE BUCKET
        // transform: files group by that transform's STABLE pv key; the
        // other transforms only subdivide each bucket's file set, which
        // the grouping merges back together. Files written before the
        // field existed lack the key, and keyedPlan already degrades to
        // the ordinary scan when any planned file has no value.
        case f @ graft.wap.PartitionSpec.SpecField(
            graft.wap.BucketPartition(n, c), _, true) =>
          (n, c, f.key)
      }.flatMap { case (n, colName, pvKey) =>
        val cat = new BranchCatalog(spark, t.root)
        if (t.snapMeta.deleteManifests.nonEmpty) None
        else {
          val files = cat.plannedFilesWithPv(t.tableName, t.snapshotId, cond, pvKey)
          if (files.isEmpty || files.exists(_._3.isEmpty)) None
          else Some((n, colName,
            files.groupBy(_._3.get.toInt).toSeq.sortBy(_._1).map { case (k, fs) =>
              GraftKeyedFilesPartition(fs.map(f => (f._1, f._2)), k)
                : org.apache.spark.sql.connector.read.InputPartition
            }.toArray))
        }
      }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedPlan match {
      case Some((n, c, parts)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)),
          parts.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Per-partition ordering (W57): a KEYED scan of a snapshot the
    * partitioned sorted compaction stamped ([[graft.wap.Snapshot
    * .sortWithinPartitions]] — one file per bucket, rows sorted within
    * it) reports ascending order on the sort columns. Combined with
    * [[outputPartitioning]], two co-bucketed sort-compacted tables
    * SORT-MERGE JOIN with no exchange AND no sort on either side — the
    * pipeline-complete fact-fact join at 100 TB. Valid only when every
    * planned bucket holds at most one file (the stamp's construction;
    * re-checked here so a foreign manifest edit can never smuggle an
    * unordered multi-file bucket through) and only for sort columns the
    * scan actually outputs; everything else reports no ordering, and
    * Spark inserts its own sorts as before. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    keyedPlan match {
      case Some((_, _, parts)) =>
        val cols = t.snapMeta.sortWithinPartitions
        val oneFilePerBucket = parts.forall {
          case GraftKeyedFilesPartition(fs, _) => fs.lengthCompare(1) <= 0
          case _ => false
        }
        if (cols.isEmpty || !oneFilePerBucket ||
            !cols.forall(required.fieldNames.contains)) Array.empty
        else cols.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case None => Array.empty
    }

  /** Join-key filters delivered at EXECUTION time (dynamic partition
    * pruning): Spark evaluates the build side of a selective join first,
    * hands the observed key set here as an IN predicate, and this scan
    * re-prunes its file splits through the same manifest pruner the
    * static pushdown uses — a star join against a bucket- or
    * day-partitioned 100 TB fact table reads only the files whose
    * transform value / column bounds admit some build-side key, without
    * the user writing the partition predicate by hand. */
  @volatile private var runtime: Array[sources.Filter] = Array.empty

  private def cond =
    (pushed ++ runtime).flatMap(GraftScanBuilder.toColumn).reduceOption(_ && _)

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    // every column in the scan OUTPUT (Spark resolves these against the
    // column-pruned output — declaring a projected-away column throws in
    // PartitionPruning). The manifest pruner is conservative (a filter it
    // cannot evaluate prunes nothing), so declaring every output column
    // is sound — Spark's own benefit heuristic gates which joins
    // actually plant a runtime filter. A KEYED (storage-partitioned)
    // scan declares none: its partition set was reported to the planner
    // and must not shift under runtime re-pruning.
    if (keyedPlan.isDefined) Array.empty
    else required.fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtime = predicates.flatMap(p =>
      org.apache.spark.sql.graft.Bridge.predicateToV1(p))
    // re-plan under the narrowed condition
    morEpochsCache = null; partitionsCache = null; readerCache = null
  }

  /** Planned once per (runtime-filter state) on the driver: None =
    * tombstone-free. Shared by [[planInputPartitions]] and
    * [[createReaderFactory]]; invalidated by [[filter]], which Spark
    * calls before either. */
  @volatile private var morEpochsCache:
      Option[Seq[(Seq[(String, Long)], Seq[graft.wap.MorDeleteGroupPlan])]] = null
  private def morEpochs: Option[Seq[(Seq[(String, Long)], Seq[graft.wap.MorDeleteGroupPlan])]] = {
    if (changes.isDefined) return None // windows refuse MOR in their own planner
    var c = morEpochsCache
    if (c == null) {
      val cat = new BranchCatalog(spark, t.root)
      c = if (t.snapMeta.deleteManifests.isEmpty) None
      else Some(cat.plannedMorEpochs(t.tableName, t.snapshotId, cond))
      morEpochsCache = c
    }
    c
  }

  private def specOf(g: graft.wap.MorDeleteGroupPlan): GraftDeleteGroupSpec =
    GraftDeleteGroupSpec(
      g.keyCols.mkString(",") + "|" + g.files.map(_._1).mkString("|"),
      g.keyCols, g.files, positional = g.positional)

  override def readSchema(): StructType = required
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String = {
    val read = changes match {
      case Some((from, to)) => s"graft ${t.branch}.${t.tableName} changes $from..$to"
      case None => s"graft ${t.branch}.${t.tableName} @ ${t.snapshotId}"
    }
    if (pushed.isEmpty) read else s"$read PushedFilters: [${pushed.mkString(", ")}]"
  }

  /** Partitions and reader factory, planned once per runtime-filter
    * state: Spark plans one query's scan more than once (AQE re-creates
    * the BatchScanExec, whose partitions and reader factory are lazy per
    * instance), and each plan costs manifest pruning and a reader build.
    * Invalidated by [[filter]]. */
  @volatile private var partitionsCache: Array[
    org.apache.spark.sql.connector.read.InputPartition] = null
  @volatile private var readerCache: org.apache.spark.sql.connector.read.PartitionReaderFactory = null

  override def planInputPartitions(): Array[
      org.apache.spark.sql.connector.read.InputPartition] = {
    if (partitionsCache == null) partitionsCache = planPartitions()
    partitionsCache
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    if (readerCache == null) readerCache = readerFactory()
    readerCache
  }

  private def planPartitions(): Array[
      org.apache.spark.sql.connector.read.InputPartition] = changes match {
    case Some((from, to)) =>
      GraftPartitions.binPack(spark, new BranchCatalog(spark, t.root)
        .plannedChangedFiles(t.tableName, Some(from), to, cond))
    case None => keyedPlan match {
      case Some((_, _, parts)) => parts
      case None => (limit, topN) match {
        // runtime filters narrow a limited scan too: once a DPP key set
        // arrives the prefix guarantee is void — and pending MOR
        // tombstones make row counts overcount — so both fall back to
        // the full plan (Spark re-applies the limit/TopK above either way)
        case (Some(l), _) if runtime.isEmpty && morEpochs.isEmpty =>
          GraftPartitions.binPack(spark,
            new BranchCatalog(spark, t.root).limitedFiles(t.tableName, t.snapshotId, l))
        case (_, Some((k, desc))) if runtime.isEmpty && morEpochs.isEmpty =>
          GraftPartitions.binPack(spark,
            new BranchCatalog(spark, t.root).topNFiles(t.tableName, t.snapshotId, k, desc))
        case _ => planSnapshotPartitions()
      }
    }
  }

  private def planSnapshotPartitions(): Array[
      org.apache.spark.sql.connector.read.InputPartition] = morEpochs match {
    case None =>
      val files = new BranchCatalog(spark, t.root)
        .plannedFilesOfSnapshot(t.tableName, t.snapshotId, cond)
      GraftPartitions.binPack(spark, files)
    case Some(epochs) =>
      // one split budget over every epoch's files: a partition never
      // spans two epochs, but each epoch packs as the whole scan would
      GraftPartitions.packs(spark, epochs.map(_._1)).zip(epochs).flatMap {
        case (bins, (_, groups)) =>
          val specs = groups.map(specOf)
          bins.map(fs =>
            if (specs.nonEmpty) GraftMorFilesPartition(fs, specs)
            else GraftFilesPartition(fs): org.apache.spark.sql.connector.read.InputPartition)
      }.toArray
  }

  private def readerFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    // a scan pruned to no file reads nothing: skip the reader build
    if (planInputPartitions().isEmpty) return new GraftReaderFactory(Right(_ => Iterator.empty))
    val bridge = org.apache.spark.sql.graft.Bridge
    // pushed INTO the parquet reader too: per-file row-group/page
    // skipping below the manifest-level file pruning (at 100 TB a kept
    // file still holds many 128 MB row groups a selective predicate can
    // skip from footer stats alone). Sound: Spark re-applies these
    // filters above this scan, and the join re-checks runtime DPP keys.
    val readerFilters = (rechecked ++ runtime).toSeq
    morEpochs match {
      case None => GraftReaderFactory(spark, t.tableSchema, required, readerFilters)
      case Some(epochs) =>
        val groups = epochs.flatMap(_._2).map(g => specOf(g).id -> g).toMap
        // positional groups key on physical (path, row-index) lineage —
        // their sidecar columns are NOT table columns and never widen
        // the data read
        val extraKeys = groups.values.filterNot(_.positional)
          .flatMap(_.keyCols).toSeq.distinct
          .filterNot(required.fieldNames.contains)
        val readAll = StructType(required.fields ++ extraKeys.map(c => t.tableSchema(c)))
        val delFuncs = groups.map { case (id, g) =>
          // key schema in keyCols order, typed from the delete FILE (the
          // written key types; probe values normalize integral/floating
          // widths so a later widening evolution still matches)
          val fileSchema = StructType.fromDDL(g.fileSchemaDdl)
          val keySchema = StructType(g.keyCols.map(c => fileSchema(c)))
          id -> bridge.parquetReadFunc(spark, fileSchema, keySchema)
        }
        new GraftMorReaderFactory(
          bridge.parquetReadFunc(spark, t.tableSchema, readAll, readerFilters),
          bridge.parquetReadFunc(spark, t.tableSchema, required, readerFilters),
          readAll, required, delFuncs,
          bridge.parquetReadFunc(spark, t.tableSchema, readAll, Nil),
          GraftDeleteSets.newPlan(s"scan ${t.root}/${t.tableName}@${t.branch}", groups.keys))
    }
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    if (changes.isEmpty) GraftStats.of(spark, t)
    else new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  /** `spark.readStream.table(...)` — see [[GraftMicroBatchStream]]. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!t.isTag,
      s"readStream on ${t.tableName}@${t.branch} refused: ${t.branch} is a TAG " +
        "(immutable — it never produces new commits); stream from a branch")
    require(changes.isEmpty,
      "graft.changes.from is a BATCH window option; readStream.table is " +
        "incremental by construction (snapshot offsets) — drop the option")
    new GraftMicroBatchStream(spark, t.root, t.branch,
      t.tableName, t.tableSchema, required, maxFilesPerTrigger, pushed.toSeq)
  }
}

/** The catalog-level `bucket(n, col)` V2 function: the SQL-facing
  * identity of graft's hidden bucket transform
  * (`pmod(xxhash64(col, seed=42), n)`), which storage-partitioned joins
  * resolve to prove both sides cluster the same way. */
private[sql] object GraftBucketUnbound
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(xxhash64(col, seed=42), n) — graft's hidden bucket transform"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, col), got ${inputType.catalogString}")
    GraftBucketBound(inputType.fields(1).dataType)
  }
}

private[sql] case class GraftBucketBound(valueType: org.apache.spark.sql.types.DataType)
  extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  import org.apache.spark.sql.types.{DataType, IntegerType}
  override def inputTypes(): Array[DataType] = Array(IntegerType, valueType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft.bucket(${valueType.catalogString})"
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
    val n = input.getInt(0)
    val v = input.get(1, valueType)
    // xxhash64 of a null input is the seed itself — matching the column
    // expression the writer evaluates
    val h =
      if (v == null) 42L
      else org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(v, valueType, 42L)
    (((h % n) + n) % n).toInt
  }
}

/** Planner statistics of one pinned snapshot. */
private[sql] object GraftStats {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics

  /** Row count AND byte size from manifest-ref sums (free — r10 refs
    * carry per-manifest byte totals, so any table size reports a real
    * planner size at O(manifests) cost). Pre-r10 metadata falls back to
    * reading manifest entries only while the table is small enough that
    * the driver read is trivial — then a big table reports no size and
    * Spark's defaults keep it off the broadcast path, the safe
    * direction. Under pending MOR tombstones row counts are an overcount
    * (a key tombstone suppresses EVERY matching row), so none is
    * reported. */
  def of(spark: SparkSession, t: GraftTable): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val cat = new BranchCatalog(spark, t.root)
      private val snap = t.snapMeta
      /** One manifest read shared by sizeInBytes AND columnStats — the
        * planner may call both per query, and each filesOf is a full
        * driver read of every manifest JSON. */
      private lazy val files: Seq[graft.wap.DataFileMeta] =
        if (snap.manifests.map(_.fileCount).sum > 4096) Nil
        else cat.filesOf(snap)
      override def sizeInBytes(): java.util.OptionalLong = {
        // r10 manifests carry byte sums: O(manifests) from the snapshot
        // alone, no per-file driver read, no size cap — a 100 TB table
        // reports its real size. Pre-r10 refs (bytes 0) fall back to the
        // guarded per-file read.
        val refBytes = snap.manifests.map(_.bytes).sum
        val bytes =
          if (refBytes > 0 && snap.manifests.forall(m => m.fileCount == 0 || m.bytes > 0))
            refBytes
          else files.map(_.bytes).sum
        if (bytes > 0) java.util.OptionalLong.of(bytes) else java.util.OptionalLong.empty()
      }
      override def numRows(): java.util.OptionalLong =
        if (snap.deleteManifests.nonEmpty) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(snap.manifests.map(_.rows).sum)
      /** Per-column stats for CBO: NDV from the nearest ANALYZE blob
        * ([[BranchCatalog.analyzeTable]] — a maintenance pass, so
        * reporting costs one tiny metadata read), null counts from
        * exact manifest sums (same driver-read guard as sizeInBytes).
        * Empty when neither exists — absent stats beat wrong stats. */
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] = {
        val ndv = cat.columnStatsOf(t.tableName, t.snapshotId).getOrElse(Map.empty)
        // a null count is reported ONLY for columns every live manifest
        // (or, on the per-file fallback, every live file) covers — a
        // partial sum would be a confidently-wrong planner stat (e.g. a
        // column added by evolution, absent from older manifests)
        def covered[T](rows: Seq[(Long, Map[String, Long])]): Map[String, Long] = {
          val live = rows.filter(_._1 > 0)
          if (live.isEmpty) Map.empty
          else {
            val cols = live.map(_._2.keySet).reduce(_ & _)
            live.flatMap(_._2.filter(kv => cols(kv._1)))
              .groupMapReduce(_._1)(_._2)(_ + _)
          }
        }
        val nulls: Map[String, Long] =
          if (snap.deleteManifests.nonEmpty) Map.empty
          // r11 refs carry coverage-aware per-manifest null sums:
          // O(manifests), uncapped (statsV >= 2 = intersection semantics)
          else if (snap.manifests.filter(_.rows > 0).forall(_.statsV >= 2))
            covered(snap.manifests.map(m => m.rows -> m.nullCounts))
          else covered(files.map(f => f.rows -> f.nullCounts))
        val out = new util.HashMap[NamedReference, ColumnStatistics]()
        (ndv.keySet ++ nulls.keySet).foreach { c =>
          out.put(org.apache.spark.sql.connector.expressions.Expressions.column(c),
            new ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                ndv.get(c).map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def nullCount(): java.util.OptionalLong =
                nulls.get(c).map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
            })
        }
        out
      }
    }
}

private object GraftScanBuilder {
  import org.apache.spark.sql.functions.{col, lit}

  /** sources.Filter -> Column, EXACT: None unless the filter converts in
    * full. This is the only safe mode for row-mutating predicates
    * (`DELETE FROM`) — [[toColumn]]'s half-convertible AND fallback is a
    * sound WEAKENING for scan pruning, but a weakened delete predicate
    * would delete rows the user's condition keeps. */
  def toColumnExact(f: sources.Filter): Option[Column] = f match {
    case sources.And(l, r) => for (a <- toColumnExact(l); b <- toColumnExact(r)) yield a && b
    case sources.Or(l, r) => for (a <- toColumnExact(l); b <- toColumnExact(r)) yield a || b
    case other => toColumn(other)
  }

  /** sources.Filter -> Column for the comparison shapes the manifest
    * pruner understands; None marks a filter as prune-irrelevant. A
    * half-convertible AND converts to its convertible half — sound ONLY
    * for pruning (the full filter is re-applied row-level); never use
    * for deletes ([[toColumnExact]]). */
  def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.In(a, vs) if vs.nonEmpty =>
      Some(vs.map(v => col(a) === lit(v)).reduce(_ || _))
    case sources.And(l, r) =>
      (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b) // half-convertible AND prunes on its half
      }
    case sources.Or(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    // a NOT converts in full or not at all: weakening its child would
    // strengthen the NOT
    case sources.Not(c) => toColumnExact(c).map(!_)
    case _ => None
  }
}
