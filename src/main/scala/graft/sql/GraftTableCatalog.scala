package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.read.SupportsReportPartitioning
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeV2Filtering, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.tables.SnapshotTable

/**
 * DataSource V2 `TableCatalog` over [[SnapshotTable]]s — the catalog
 * story the reference delegates to Glue (`iceberg/iceberg_submit.sh:29-32`
 * resolves `glue_catalog.default.iceberg_contact`; SURVEY.md §2.1 S6).
 * Configure:
 * {{{
 *   spark.sql.catalog.graft = graft.sql.GraftTableCatalog
 *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
 * }}}
 * Then the full DSv2 surface works against native snapshot tables:
 * `df.writeTo("graft.db.t").createOrReplace()` / `.append()`
 * (`iceberg/iceberg_scd_script.py:34-37` shape), `CREATE TABLE … AS
 * SELECT`, `INSERT INTO`, `spark.table("graft.db.t")`, and SQL reads
 * whose pushed-down filters drive **file-level stats pruning** (the scan
 * prunes the manifest before Spark plans the parquet read — the
 * reference formats' data-skipping behavior, BASELINE.md).
 *
 * Reads build Spark's OWN vectorized parquet scan: [[GraftScanBuilder]]
 * stats-prunes the manifest with the pushed filters, then delegates to
 * Spark's `ParquetScanBuilder` over exactly the surviving files —
 * columnar read, whole-stage codegen, parquet row-group pushdown. Only
 * writes remain V1 ([[V1Write]]): append/truncate map onto
 * `SnapshotTable.append`/`overwrite` (atomic snapshot commits).
 *
 * Name resolution is DURABLE across sessions (the reference's
 * hive-sync/Glue role): managed tables resolve mechanically from the
 * warehouse layout, and `CREATE TABLE … LOCATION '<external root>'`
 * records its name→root mapping in the warehouse's on-disk
 * [[CatalogRegistry]] (CAS-committed) — a freshly built session
 * resolves both kinds, plus their `_rt`/`_ro` faces and time travel,
 * with nothing but the catalog conf.
 */
class GraftTableCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  // ---- FunctionCatalog: the `bucket` transform function. Resolving it
  // through the TABLE's own catalog is what lets Spark turn the scan's
  // reported KeyGroupedPartitioning(bucket(n, col)) into a catalyst
  // partitioning BOTH join sides share (same catalog → same canonical
  // function), the precondition for a storage-partitioned join.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    (GraftTimeFunction.Units :+ "bucket")
      .map(Identifier.of(namespace, _)).toArray
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else GraftTimeFunction.Units.find(_.equalsIgnoreCase(ident.name))
      .map(GraftTimeFunction(_))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def rootFor(ident: Identifier): String =
    (warehouse +: ident.namespace() :+ ident.name()).mkString("/")

  /** Warehouse location an identifier maps to — lets SQL commands that
   *  create a table in this catalog (SHALLOW CLONE) derive the root. */
  private[sql] def rootForParts(parts: Seq[String]): String =
    (warehouse +: parts).mkString("/")

  /** The root `ident` resolves to: the mechanical warehouse layout when
   *  a committed table lives there, else the durable [[CatalogRegistry]]
   *  (external-LOCATION tables registered by ANY session — the
   *  hive-sync/Glue role; resolution survives session restarts because
   *  both sources are on disk, not in session state). Warehouse layout
   *  wins: a managed table created at the derived path must not be
   *  shadowed by a stale registration of the same name. */
  private def resolveRoot(ident: Identifier): Option[String] = {
    val managed = rootFor(ident)
    if (SnapshotTable(spark, managed).currentVersion() >= 0) Some(managed)
    else CatalogRegistry.lookup(spark, warehouse, identParts(ident))
      .filter(r => SnapshotTable(spark, r).currentVersion() >= 0)
  }

  private def identParts(ident: Identifier): Seq[String] =
    ident.namespace().toSeq :+ ident.name()

  private def exists(ident: Identifier): Boolean = resolveRoot(ident).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace).mkString("/"))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // ONE registry head read serves the whole listing: filtering each
    // candidate through exists()/resolveRoot would re-read the registry
    // per name — the N+1 shape the registry's own hint exists to avoid
    val state = CatalogRegistry.snapshot(spark, warehouse)
    val managed =
      if (!fs.exists(dir)) Array.empty[Identifier]
      else fs.listStatus(dir).filter(_.isDirectory)
        .map(s => Identifier.of(namespace, s.getPath.getName))
        .filter(id => SnapshotTable(spark, rootFor(id)).currentVersion() >= 0)
    val prefix =
      if (namespace.isEmpty) "" else CatalogRegistry.key(namespace.toSeq) + "."
    val registered = state.toSeq.collect {
      case (k, root) if k.startsWith(prefix) &&
          !k.stripPrefix(prefix).contains(".") &&
          SnapshotTable(spark, root).currentVersion() >= 0 =>
        Identifier.of(namespace, k.stripPrefix(prefix))
    }
    (managed ++ registered).distinct
  }

  override def loadTable(ident: Identifier): Table = {
    resolveRoot(ident) match {
      case Some(root) => new GraftTable(SnapshotTable(spark, root), ident)
      case None => faceTable(ident, t => (t, None))
        .getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** Hudi hive-sync parity (reference `README.md:158`,
   *  `hudi/hudi_scd_script.py:35-40`): an MoR table answers to TWO SQL
   *  names — `t_ro`, the read-optimized face (base files only; pending
   *  deltas invisible until compaction — the documented staleness
   *  trade), and `t_rt`, the real-time face (the merged view, deltas
   *  applied at read). Resolved only when no physical table of the
   *  suffixed name exists (a real `foo_rt` directory always wins), so
   *  the faces are pure name-resolution sugar over the one table. For a
   *  table with no pending deltas the faces coincide with the plain
   *  name, matching Hudi where both views serve identical rows between
   *  delta commits. */
  /** `resolve` maps the BASE table to the (handle, pinned version) the
   *  face should serve — identity for plain reads, the time-travel
   *  resolution for `VERSION/TIMESTAMP AS OF`, so the faces answer on
   *  every read surface the plain name does. */
  private def faceTable(
      ident: Identifier,
      resolve: SnapshotTable => (SnapshotTable, Option[Long])): Option[Table] = {
    val n = ident.name()
    val face = if (n.length > 3 && n.endsWith("_ro")) Some("ro")
      else if (n.length > 3 && n.endsWith("_rt")) Some("rt")
      else None
    face.flatMap { f =>
      val base = Identifier.of(ident.namespace(), n.dropRight(3))
      resolveRoot(base).map { baseRoot =>
        val (t, pinned) = resolve(SnapshotTable(spark, baseRoot))
        if (f == "ro")
          new GraftTable(t, ident, pinnedVersion = pinned, readOptimized = true): Table
        else new GraftRtTable(t, ident, pinnedVersion = pinned): Table
      }
    }
  }

  /** Time travel: `SELECT … FROM graft.db.t VERSION AS OF <n>` resolves
   *  here (snapshot isolation made queryable, SURVEY.md §2.1 S2). A
   *  non-numeric version literal resolves as a NAMED REF (Iceberg
   *  `VERSION AS OF 'tag'`): tags pin their recorded version; a branch
   *  name serves the branch head as a read snapshot (pinned — a commit
   *  racing the read does not shift the served version mid-query). */
  /** Shared `VERSION AS OF` resolution: integer version, tag, or branch
   *  of `t` → the (handle, pinned version) to serve. */
  private def resolveVersionRef(
      t: SnapshotTable, name: String, version: String): (SnapshotTable, Long) =
    version.toLongOption match {
      case Some(v) =>
        require(v >= 0 && v <= t.currentVersion(),
          s"table $name has no version $v (latest: ${t.currentVersion()})")
        (t, v)
      case None if t.hasTag(version) && t.hasBranch(version) =>
        // separate namespaces; creation rejects collisions, but a table
        // written by older code could carry both — refuse to guess
        throw new IllegalArgumentException(
          s"VERSION AS OF '$version' is ambiguous on $name: both a tag " +
            "and a branch of that name exist; drop or rename one")
      case None if t.hasTag(version) => (t, t.tagVersion(version))
      case None if t.hasBranch(version) =>
        val b = t.branch(version)
        (b, b.currentVersion())
      case None => throw new IllegalArgumentException(
        s"VERSION AS OF '$version': not an integer version, tag, or branch of $name")
    }

  override def loadTable(ident: Identifier, version: String): Table = {
    resolveRoot(ident) match {
      case Some(root) =>
        val (h, v) = resolveVersionRef(
          SnapshotTable(spark, root), ident.name(), version)
        new GraftTable(h, ident, pinnedVersion = Some(v))
      case None => faceTable(ident, { t =>
        val (h, v) = resolveVersionRef(t, ident.name(), version)
        (h, Some(v))
      }).getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** Timestamp time travel: `SELECT … FROM graft.db.t TIMESTAMP AS OF
   *  '<ts>'` — Spark hands the instant as MICROseconds since epoch; the
   *  pinned version is the newest one committed at or before it
   *  (Delta/Iceberg `AS OF` semantics, [[SnapshotTable.versionAsOf]]). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    def pin(t: SnapshotTable): Long = t.versionAsOf(Math.floorDiv(timestampMicros, 1000L))
    resolveRoot(ident) match {
      case Some(root) =>
        val t = SnapshotTable(spark, root)
        new GraftTable(t, ident, pinnedVersion = Some(pin(t)))
      case None => faceTable(ident, t => (t, Some(pin(t))))
        .getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** Generated columns land in the CREATE schema as field metadata;
   *  advertising the capability is what lets Spark's parser/analyzer
   *  accept `GENERATED ALWAYS AS (expr)` for this catalog at all. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Spark 4 routes CREATE TABLE through the v2-Column variant, and the
   *  generation expression lives ONLY on the v2 `Column` (the StructType
   *  conversion drops it) — capture it here as a table property, then
   *  delegate. */
  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val merged = new util.HashMap[String, String](properties)
    columns.foreach { c =>
      Option(c.generationExpression()).foreach(e =>
        merged.put(s"graft.generated.${c.name}", e))
      Option(c.identityColumnSpec()).foreach(s =>
        merged.put(s"graft.identity.${c.name}",
          s"${s.getStart},${s.getStep},${s.isAllowExplicitInsert}"))
    }
    createTable(ident,
      org.apache.spark.sql.graftshim.SparkInternals.v2ColumnsToStructType(columns),
      partitions, merged)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    // partition transforms become the table's persisted cluster spec:
    // every write range-repartitions on these expressions, so per-file
    // stats are disjoint and reads prune files — partition pruning via
    // data skipping, no dir-per-value layout. Iceberg-style hidden
    // partitioning: years/months/days/hours(ts) cluster on the truncated
    // time (raw-column predicates prune with no query rewrite);
    // bucket(n, col) hash-groups high-cardinality keys.
    val timeUnits = Set("years", "months", "days", "hours")
    val clusterBy = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t if timeUnits.contains(t.name) && t.references.length == 1 =>
        s"${t.name}(${t.references.head.fieldNames.mkString(".")})"
      case t if t.name == "bucket" && t.references.length >= 1 =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value.toString
        }.getOrElse(throw new UnsupportedOperationException(
          s"bucket transform without a bucket count: $t"))
        // a degenerate count would make every later write divide by zero
        // (ANSI) or silently un-cluster — reject at CREATE time
        require(scala.util.Try(n.toInt).toOption.exists(_ > 0),
          s"bucket transform needs a positive bucket count, got: $n")
        // composite keys keep declaration order — the routing hash chains
        // over it, so (a, b) and (b, a) are different layouts
        s"bucket($n, ${t.references.map(_.fieldNames.mkString(".")).mkString(", ")})"
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform for graft tables: $other")
    }
    // A user-supplied LOCATION outside the warehouse layout makes this an
    // EXTERNAL table: the name→root mapping is durably recorded in the
    // warehouse's CatalogRegistry (CAS-committed), so ANY later session
    // resolves it by name — the reference's hive-sync of a table whose
    // data lives at its own S3 root (`delta/delta_scd_script.py:41-43`).
    val externalRoot = Option(properties.get(TableCatalog.PROP_LOCATION))
      .filter(loc =>
        new Path(loc).toUri.getPath != new Path(rootFor(ident)).toUri.getPath)
    // Spark mixes engine-reserved entries (provider, location, owner, …)
    // into the properties map; persist only genuine user TBLPROPERTIES.
    val userProps = properties.asScala.toMap --
      Seq(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
        TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL)
    // `c GENERATED ALWAYS AS (expr)` arrives as field metadata; persist
    // the expression as a table property (the write path computes it)
    // and store the schema clean of parser-internal metadata
    import org.apache.spark.sql.catalyst.util.GeneratedColumn
    val genCols = schema.fields.toSeq.flatMap(f =>
      GeneratedColumn.getGenerationExpression(f).map(f.name -> _))
    val cleanSchema = StructType(schema.fields.map { f =>
      if (GeneratedColumn.isGeneratedColumn(f))
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove(GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY).build())
      else f
    })
    val genProps = genCols.map { case (c, e) => s"graft.generated.$c" -> e }.toMap
    val t = externalRoot match {
      case None =>
        SnapshotTable.createEmpty(
          spark, rootFor(ident), cleanSchema, clusterBy, userProps ++ genProps)
      case Some(loc) =>
        val existing = SnapshotTable(spark, loc)
        val adopted =
          if (existing.currentVersion() >= 0) {
            // CREATE over an existing external root ADOPTS the committed
            // table (Delta's `CREATE TABLE t USING delta LOCATION p`): a
            // user-supplied schema must match what is on disk — silently
            // serving a different schema than declared is a lie either way
            if (cleanSchema.nonEmpty) {
              val committed = existing.schema
              val same = committed.length == cleanSchema.length &&
                committed.fields.zip(cleanSchema.fields).forall { case (a, b) =>
                  a.name.equalsIgnoreCase(b.name) && a.dataType == b.dataType
                }
              require(same,
                s"CREATE TABLE $ident LOCATION '$loc': declared schema " +
                  s"${cleanSchema.simpleString} does not match the committed " +
                  s"schema ${committed.simpleString}; omit the column list to adopt")
            }
            existing
          } else SnapshotTable.createEmpty(
            spark, loc, cleanSchema, clusterBy, userProps ++ genProps)
        CatalogRegistry.register(spark, warehouse, identParts(ident), loc)
        adopted
    }
    new GraftTable(t, ident)
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES`, `ADD COLUMNS`, and
   *  `DROP COLUMN(S)` — metadata-only commits; properties then ride every
   *  subsequent commit (`delta/delta_scd_script.py:43`), added columns
   *  read as NULL from existing files, dropped columns stop being
   *  projected and are tombstoned against resurrection
   *  ([[SnapshotTable.dropColumns]]), and `RENAME COLUMN` lands as a
   *  metadata-only name-mode column-mapping commit
   *  ([[SnapshotTable.renameColumn]]). `ALTER COLUMN … TYPE` accepts
   *  lossless widenings only ([[SnapshotTable.widenColumnType]]). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = SnapshotTable(spark,
      resolveRoot(ident).getOrElse(throw new NoSuchTableException(ident)))
    val unsupported = changes.filter {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => false
      case a: TableChange.AddColumn if a.fieldNames.length == 1 => false
      case d: TableChange.DeleteColumn if d.fieldNames.length == 1 => false
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 => false
      case u: TableChange.UpdateColumnType if u.fieldNames.length == 1 => false
      case _ => true
    }
    if (unsupported.nonEmpty) throw new UnsupportedOperationException(
      s"unsupported ALTER TABLE change(s) for graft tables: ${unsupported.mkString(", ")}")
    val sets = changes.collect { case c: TableChange.SetProperty => c.property -> c.value }
    val unsets = changes.collect { case c: TableChange.RemoveProperty => c.property }
    val adds = changes.collect { case c: TableChange.AddColumn =>
      // a NOT NULL add on a non-empty table is unsatisfiable (existing
      // rows read the column as NULL) — refuse rather than silently
      // store the column nullable against the declared contract
      if (!c.isNullable) throw new UnsupportedOperationException(
        s"ADD COLUMNS ${c.fieldNames.mkString(".")}: NOT NULL cannot be added " +
          "to an existing graft table (existing rows would read NULL); " +
          "add the column nullable and backfill, or recreate the table")
      if (c.position() != null) throw new UnsupportedOperationException(
        s"ADD COLUMNS ${c.fieldNames.mkString(".")}: FIRST/AFTER positions are " +
          "not supported (columns append last)")
      val base = org.apache.spark.sql.types.StructField(
        c.fieldNames.head, c.dataType, nullable = true)
      // `ADD COLUMN … DEFAULT v`: persist Spark's standard default-value
      // metadata — the analyzer fills CURRENT_DEFAULT into later INSERTs,
      // and the file-source reader serves EXISTS_DEFAULT for rows written
      // before the column existed (instead of NULL)
      Option(c.defaultValue()) match {
        case Some(dv) =>
          val sql = Option(dv.getSql).getOrElse(throw new UnsupportedOperationException(
            s"ADD COLUMNS ${c.fieldNames.mkString(".")}: expression-only default " +
              "values are not supported — use a SQL-literal DEFAULT"))
          base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build())
        case None => base
      }
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d.fieldNames.head }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val widens = changes.collect { case u: TableChange.UpdateColumnType => u }
    // Pre-validate EVERY statically-checkable change before the first
    // commit: each sub-change commits separately, so a doomed later
    // change must not leave earlier ones durably applied. (A
    // data-dependent failure — e.g. a CHECK constraint scan — can still
    // interrupt the sequence; sub-changes remain individually atomic.)
    val fields = t.schema.fieldNames
    (drops ++ renames.map(_.fieldNames.head)).foreach { c =>
      require(fields.exists(_.equalsIgnoreCase(c)),
        s"ALTER TABLE ${ident.name}: no such column: $c")
    }
    widens.foreach(u => t.validateWidening(u.fieldNames.head, u.newDataType))
    if (sets.nonEmpty) t.setProperties(sets.toMap)
    if (unsets.nonEmpty) t.unsetProperties(unsets)
    if (adds.nonEmpty) t.addColumns(adds)
    if (drops.nonEmpty) t.dropColumns(drops)
    renames.foreach(r => t.renameColumn(r.fieldNames.head, r.newName))
    widens.foreach(u => t.widenColumnType(u.fieldNames.head, u.newDataType))
    new GraftTable(t, ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    // managed (warehouse-layout) tables drop their data; a REGISTERED
    // external table only loses its catalog entry — hive EXTERNAL
    // semantics: the catalog never owned that data. BOTH are cleared
    // when both exist: deleting only the managed dir would leave a
    // stale same-name registration that resurrects the dropped name on
    // the next resolution.
    val root = new Path(rootFor(ident))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val droppedManaged = fs.exists(root) && fs.delete(root, true)
    val hadRegistration =
      CatalogRegistry.lookup(spark, warehouse, identParts(ident)).isDefined
    if (hadRegistration) CatalogRegistry.unregister(spark, warehouse, identParts(ident))
    droppedManaged || hadRegistration
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported for graft tables")
}

/** DSv2 face of one [[SnapshotTable]] (optionally pinned to a historic
 *  version — read-only time travel).
 *
 *  The snapshot is resolved ONCE, here, and drives the analysis schema,
 *  properties, partitioning and the scan's file list: a commit landing
 *  between analysis and scan planning cannot pair the new version's
 *  files with the old version's schema (snapshot isolation; reference
 *  formats pin the snapshot at scan creation the same way). The head is
 *  resolved torn-tolerant, like every read. */
class GraftTable(
    val table: SnapshotTable,
    ident: Identifier,
    pinnedVersion: Option[Long] = None,
    readOptimized: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  /** None: the table has no commit yet. */
  private val snapshot: Option[SnapshotTable.Snapshot] =
    pinnedVersion.map(table.snapshotAt).orElse(table.readable())

  override def name(): String =
    ident.toString + pinnedVersion.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = snapshot.fold(new StructType())(_.schema)
  override def properties(): util.Map[String, String] =
    snapshot.fold(Map.empty[String, String])(_.properties).asJava

  /** The persisted cluster spec reported back as DSv2 partitioning
   *  transforms — the inverse of [[GraftTableCatalog.createTable]]'s
   *  transform→spec conversion, so DESCRIBE/SHOW CREATE round-trip the
   *  hidden-partitioning declaration. Informational: reads prune via
   *  stats and the SPJ report regardless. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val Bucket = """bucket\(\s*(\d+)\s*,\s*([^)]+?)\s*\)""".r
    val Time = """(years|months|days|hours)\(\s*([^)]+?)\s*\)""".r
    snapshot.fold(Seq.empty[String])(_.clusterSpec).map {
      case Bucket(n, cs) =>
        Expressions.bucket(n.toInt,
          cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq: _*)
      case Time("years", c) => Expressions.years(c)
      case Time("months", c) => Expressions.months(c)
      case Time("days", c) => Expressions.days(c)
      case Time("hours", c) => Expressions.hours(c)
      case plain => Expressions.identity(plain)
    }.toArray
  }
  // BATCH_WRITE is declared alongside V1_BATCH_WRITE: the path-based
  // DataFrameWriter (`.format("graft-table").save(root)`) gates on the
  // former strictly, while the physical plan is still routed by the
  // V1Write instance the builder returns (AppendDataExecV1).
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  /** The pinned snapshot's manifest for stats-only answering — None when
   *  MoR deltas are pending (base stats would be stale; the
   *  [[MetadataOnlyAgg]] rule then leaves the scan in place). */
  private[sql] def statsFiles: Option[Seq[graft.tables.SnapshotTable.FileEntry]] =
    snapshot match {
      case None => Some(Nil)
      // the read-optimized face SERVES the base files, so base stats are
      // exact for it even while deltas are pending
      case Some(s) =>
        if (s.dvPaths.nonEmpty || (!readOptimized && s.deltaPaths.nonEmpty)) None
        else Some(s.files)
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // The catalog scan reads BASE files; serving it for a snapshot with
    // pending MoR deltas would silently return stale rows. Checked at
    // the PINNED snapshot — a time-travel read of an old delta-bearing
    // version is just as stale as the current one. The `_ro` face
    // (`readOptimized`) is the one reader for which base-only IS the
    // contract — Hudi's read-optimized view — so it skips the delta
    // check. Deletion vectors are NOT refused: the scan builder applies
    // the sidecar positions inside its readers ([[DvFilteredScan]]),
    // so a DV-carrying snapshot serves exact rows — and keeps its
    // reported bucket layout (storage-partitioned joins) while doing so.
    // The _ro face never skips DVs: they are base state, and
    // resurrecting deleted rows is staleness of a different kind.
    val snap = table.required(snapshot)
    require(readOptimized || snap.deltaPaths.isEmpty,
      s"${name()} has pending MoR deltas at version ${snap.version}: query the " +
        "_rt/_ro faces, SnapshotTable.read()/readVersion() (real-time view), " +
        "or applyDeltas() first")
    new GraftScanBuilder(table, snap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty, "cannot write to a time-travel snapshot")
    // the _ro face is a READ surface (as _rt is by construction): a
    // write addressed to it is a misdirected write, not a base append
    require(!readOptimized,
      s"${name()} is the read-optimized face; write to the base table name")
    new GraftWriteBuilder(table)
  }

  // ---- row-level DELETE (`DELETE FROM graft.db.t WHERE …`)
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty && !readOptimized &&
      filters.forall(f => GraftScanBuilder.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!readOptimized,
      s"${name()} is the read-optimized face; delete via the base table name")
    val predicate = filters.flatMap(GraftScanBuilder.toColumn)
      .reduceOption(_ && _)
      .getOrElse(lit(true)) // DELETE with no predicate = truncate
    table.delete(predicate)
  }
}

/** The `_rt` (real-time) SQL face of an MoR table: the MERGED view —
 *  base rows overlaid with pending deltas and deletion vectors applied,
 *  exactly [[SnapshotTable.readVersion]] — served through a [[V1Scan]]
 *  bridge, because the record-level merge is a plan (anti-join + key
 *  agg), not a file list a [[GraftScanBuilder]] could hand to the
 *  parquet reader. Read-only by construction (writes go to the plain
 *  table name). This is the slower face, as Hudi's own real-time view
 *  is (its record-merging InputFormat vs plain columnar splits); the
 *  base side of the merged plan is still a native pruned parquet scan,
 *  and the delta side is bounded by the auto-compaction policy
 *  (`graft.compact.maxDeltas`), so the bridge's row tax applies to a
 *  capped overlay, not the 100 TB base. Snapshot-pinned at load time,
 *  like [[GraftTable]]. */
class GraftRtTable(
    val table: SnapshotTable,
    ident: Identifier,
    pinnedVersion: Option[Long] = None)
    extends Table with SupportsRead {

  private val snapshot: Option[SnapshotTable.Snapshot] =
    pinnedVersion.map(table.snapshotAt).orElse(table.readable())
  // the committed LOGICAL schema from the entry: the merged view aligns
  // deltas to it by construction, so building the whole merged plan
  // here just to read .schema would pay delta/DV resolution on every
  // catalog lookup of the face
  private val snapshotSchema: StructType = snapshot.fold(new StructType())(_.schema)

  override def name(): String =
    ident.toString + pinnedVersion.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = snapshotSchema
  override def properties(): util.Map[String, String] =
    snapshot.fold(Map.empty[String, String])(_.properties).asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // Pushdown happens at the DSv2 LAYER (V2ScanRelationPushDown talks
    // to the ScanBuilder; the V1 wrapper only ever calls the no-arg
    // TableScan.buildScan) — so the builder captures pushed filters and
    // the pruned projection, and buildScan applies them INSIDE the
    // merged-view plan: Catalyst then pushes the predicates into the
    // base parquet scan (and the delta overlay's scans). `WHERE id = 5`
    // through the face stats-prunes and row-group-skips like the API
    // path instead of materializing the whole base through the row
    // bridge. Every filter is also RETURNED as a post-scan filter —
    // Spark re-applies them, so partial translation is always safe.
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var pushed: Array[Filter] = Array.empty
      private var required: Option[StructType] = None
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(f => GraftScanBuilder.toColumn(f).isDefined)
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required.getOrElse(snapshotSchema)
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = readSchema()
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val base = table.view(table.required(snapshot))
              val filtered = pushed.flatMap(GraftScanBuilder.toColumn)
                .foldLeft(base)(_ filter _)
              // zero-column projections (count(*)) are legal: select()
              // keeps the row count with no fields
              val pruned = required
                .map(rs => filtered.select(rs.fieldNames.map(col).toSeq: _*))
                .getOrElse(filtered)
              pruned.rdd
            }
          }.asInstanceOf[T]
      }
    }
}

/** Scan builder: accepts pushed filters (kept as post-scan filters too —
 *  Spark re-applies them, so partial translation is always safe) and
 *  pruned columns. `build()` stats-prunes the manifest with the pushed
 *  predicate, then delegates to Spark's own [[ParquetScanBuilder]] over
 *  exactly the surviving files — the scan Spark executes is its native
 *  vectorized parquet `Batch` (columnar read, whole-stage codegen, parquet
 *  row-group pushdown), not a `RDD[Row]` bridge that would pay an
 *  InternalRow→Row→InternalRow tax per row at 100 TB. `snap` is the
 *  snapshot [[GraftTable]] resolved at load time — schema and file list
 *  always come from it. */
class GraftScanBuilder private[sql] (table: SnapshotTable, snap: SnapshotTable.Snapshot)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private val tableSchema = snap.schema
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var metaAgg: Option[(StructType, Seq[Array[Any]])] = None
  private var limit: Option[Int] = None
  private var topn: Option[(String, Boolean, Int)] = None // (column, asc, n)

  /** LIMIT-only file capping: `SELECT … LIMIT n` over a 100 TB table
   *  should open as few files as the manifest's EXACT per-file row
   *  counts allow, not the whole corpus. Spark only pushes a limit that
   *  sits directly above the scan (never through a Filter — and this
   *  builder retains every filter post-scan, so a filtered query keeps
   *  its Filter node and no limit arrives); the refusal on any pushed
   *  filter is belt-and-braces for the same invariant: a row-count cap
   *  under a filter could drop exactly the files holding the matches.
   *  Partial pushdown — Spark keeps its own Limit on top, this layer
   *  only bounds which files are read. Deletion-vector rows subtract
   *  from each file's live count (a mostly-deleted file contributes
   *  only its survivors toward the bound). */
  override def pushLimit(l: Int): Boolean = {
    // consumed no-op null guards filter nothing — the file-cap walk's
    // row counts stay exact under them
    if (pushed.exists(f => !consumedNoops.contains(f))) return false
    limit = Some(l)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** TopN file capping — `ORDER BY key [, tiebreaks…] LIMIT n` over a
   *  key-clustered table opens only the files that can hold the top n
   *  (the log-tail / latest-events query at 100 TB). Sound θ rule on
   *  the PRIMARY sort key's exact manifest stats: walk bounded files by
   *  ascending max, accumulating live row counts (manifest rows minus
   *  pending DV deletes) until they reach n — θ is that max, so at
   *  least n values ≤ θ exist and the true top n are all ≤ θ; every
   *  file whose min > θ provably holds none of them. Secondary sort
   *  keys only break ties and never change which files qualify.
   *  Refused per-file, not per-query, wherever exactness isn't
   *  provable: a file with missing/unparseable bounds or ANY nulls in
   *  the key (null rows are invisible to min/max yet order first by
   *  default) is always kept and contributes nothing toward θ.
   *  Float/double keys refuse outright (NaN is invisible to parquet
   *  stats but sorts above +Inf). String keys accept at the query
   *  level, but the θ walk trusts only bounds carrying the
   *  writer-exact flag ([[SnapshotTable.ColStats.exact]]) — files with
   *  truncated/adopted string bounds are kept and contribute nothing,
   *  degrading to no pruning rather than unsoundness. Partial
   *  pushdown — Spark keeps the real sort+limit. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (pushed.exists(f => !consumedNoops.contains(f)) || orders.isEmpty) return false
    val head = orders.head
    val col = head.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames()(0)
      case _ => return false
    }
    val field = SnapshotTable.resolveField(tableSchema, col)
      .getOrElse(return false)
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        topn = Some((field.name,
          head.direction() == org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
          n))
        true
      // strings accept at the QUERY level; per-file the θ walk uses only
      // bounds carrying the writer-exact flag (verbatim values from our
      // own writer) — files with truncated/adopted bounds are kept and
      // contribute nothing, so the cap stays sound and simply degrades
      // to no pruning on a table with no exact string stats
      case StringType =>
        topn = Some((field.name,
          head.direction() == org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
          n))
        true
      case _ => false
    }
  }

  private def topNCap(
      files: Seq[SnapshotTable.FileEntry],
      dvDel: Map[String, Long],
      col: String, asc: Boolean, n: Int): Seq[SnapshotTable.FileEntry] = {
    val dt = SnapshotTable.resolveField(tableSchema, col)
      .map(_.dataType).getOrElse(LongType)
    GraftScanBuilder.topNCap(files, dvDel, col, asc, n, dt)
  }

  /** Metadata-only aggregates at the DSv2 layer: COUNT(*) / COUNT(col) /
   *  MIN / MAX answered from the commit manifest's per-file row counts
   *  and column stats — zero data files touched. At 100 TB this turns a
   *  full-corpus scan into a driver-side manifest fold (the
   *  Iceberg/Delta metadata-only-query optimization).
   *
   *  Division of labor with [[MetadataOnlyAgg]] (the optimizer rule the
   *  extensions inject, which runs FIRST and collapses pure
   *  count(*)/min/max shapes to a LocalRelation): this layer adds
   *  COUNT(col) (answered as rows − nullCount), and is the path that
   *  exists at all when only the catalog is configured, without
   *  [[GraftExtensions]].
   *
   *  GROUP BY pushes too, when every group key is a plain column that
   *  every file PROVES single-valued (the layout's partition columns —
   *  hybrid cluster specs put exactly one value per file): each distinct
   *  tuple folds its own file set, one partial row per tuple, Iceberg's
   *  partitions-metadata-table query served from the manifest.
   *
   *  Refused (→ ordinary scan, always correct) whenever exactness isn't
   *  provable: any pushed filter, a group key any file can't prove
   *  single-valued, a file with unknown row count, a column missing
   *  stats in any file, or a column type outside the exact-stats
   *  domains — strings (footer bounds may be truncated) and
   *  float/double (NaN is invisible to parquet min/max, but sorts
   *  above +Inf in Spark; the rule handles these with its stronger
   *  all-NULL gate). Spark plans its own final merge on top (partial
   *  pushdown), so the partial rows are exactly right. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // consumed no-op null guards don't change any aggregate's input —
    // only REAL filters make stats unanswerable
    if (pushed.exists(f => !consumedNoops.contains(f))) return false
    metaAgg = GraftScanBuilder.metadataAggregate(table, snap, aggregation)
    metaAgg.isDefined
  }

  /** True when `col` provably holds NO nulls in the pinned snapshot:
   *  declared non-nullable, or every live file carries a harvested
   *  nullCount of 0 for it. Sound under pending deletion vectors (they
   *  only REMOVE rows) and for the read-optimized MoR face (the proof is
   *  over the base files it serves); delta-bearing snapshots never reach
   *  a scan builder. */
  private var consumedNoops: Set[Filter] = Set.empty
  private def provablyNoNulls(col: String): Boolean = {
    // resolve per the SESSION's case sensitivity (this proof feeds a
    // row-affecting filter consumption, unlike the pruning lookups that
    // may merely keep extra files); ambiguity keeps the filter
    val caseSensitive = table.spark.sessionState.conf.caseSensitiveAnalysis
    val fields = tableSchema.fields.filter(f =>
      if (caseSensitive) f.name == col else f.name.equalsIgnoreCase(col))
    fields.length == 1 && fields.forall { f =>
      !f.nullable || snap.files.forall { fe =>
        fe.stats.get(f.name).orElse {
          val m = fe.stats.keys.filter(_.equalsIgnoreCase(f.name)).toSeq
          if (m.size == 1) fe.stats.get(m.head) else None
        }.exists(_.nullCount.contains(0L))
      }
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftScanBuilder.toColumn(f).isDefined)
    // Provably-no-op null guards are CONSUMED, not returned as residual:
    // the planner wraps every aggregate that later joins in
    // `IsNotNull(joinKey)`, and ANY residual filter between Aggregate
    // and scan blocks Spark's aggregate pushdown entirely — so a
    // metadata GROUP BY composed into a join would silently lose its
    // manifest serve. Consuming is sound unconditionally: a filter that
    // removes nothing may be skipped whether or not an aggregate
    // follows. Everything else stays post-scan — correctness never
    // depends on our pruning.
    consumedNoops = filters.collect {
      case f @ org.apache.spark.sql.sources.IsNotNull(c) if provablyNoNulls(c) => f
    }.toSet
    filters.filterNot(consumedNoops.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = metaAgg match {
    case Some((aggSchema, rows)) =>
      new MetadataAggScan(aggSchema, rows, table.root)
    case None => buildFileScan()
  }

  private def buildFileScan(): Scan = {
    val spark = table.spark
    // Consumed no-op guards must NOT reach the inner parquet scan: Spark
    // pruned their columns from the read schema (that is what consuming
    // buys), and parquet's record-level filter evaluates a filter column
    // missing from the requested schema as NULL — IsNotNull(absent)
    // would silently drop EVERY row (r15 found `SELECT v FROM t WHERE
    // id IS NOT NULL` returning zero rows through exactly this). They
    // are provably row-neutral, so skipping them loses nothing at any
    // layer — manifest pruning included.
    val realPushed = pushed.filterNot(consumedNoops.contains)
    // manifest stats pruning runs on LOGICAL names (all commit metadata is
    // logically keyed, even after RENAME COLUMN)
    val predicate = realPushed.flatMap(GraftScanBuilder.toColumn).reduceOption(_ && _)
    val allFiles = snap.prunedFiles(predicate)
    val mapping = snap.mapping
    // pending deletion vectors: the parquet scan is built with Spark's
    // reserved row-index column appended, and [[DvFilteredScan]] drops
    // the sidecar-named positions per file inside the readers — stats
    // pruning above stays sound (file stats include deleted rows:
    // conservative, may keep a file whose only matches are deleted)
    val dvPos = table.dvPositions(snap)
    // pushed LIMIT (guaranteed filter-free): take manifest files in order
    // until their exact LIVE row counts (manifest rows minus pending DV
    // deletions) reach the bound — the rest are never opened. A file
    // with UNKNOWN row count (rows == -1, adopted with an unreadable
    // footer) is kept but contributes nothing toward the bound — it may
    // hold any number of live rows, so dropping it could silently
    // return fewer than the table holds. Pushed TopN instead selects by
    // the θ rule on the sort key's stats.
    val dvDel: Map[String, Long] = dvPos.map { case (k, v) => k -> v.length.toLong }
    // the caps require a filter-free scan; pushed filters that are ALL
    // consumed no-op null guards qualify (they remove nothing), matching
    // pushLimit/pushTopN's acceptance — gating on pushed.isEmpty here
    // would leave the promised cap dead in exactly that case
    val files = (limit, topn) match {
      case (Some(l), _) if pushed.forall(consumedNoops.contains) =>
        GraftScanBuilder.limitCap(allFiles, dvDel, l)
      case (None, Some((c, asc, n))) if pushed.forall(consumedNoops.contains) =>
        topNCap(allFiles, dvDel, c, asc, n)
      case _ => allFiles
    }
    val rowIdxField = org.apache.spark.sql.graftshim.SparkInternals.rowIndexField
    def withIdx(s: StructType): StructType =
      if (dvPos.isEmpty) s else StructType(s.fields :+ rowIdxField)
    def dvWrap(built: Scan, logical: StructType): Scan =
      if (dvPos.isEmpty) built
      else new DvFilteredScan(built, logical, withIdx(logical),
        spark.sparkContext.broadcast(dvPos))
    // the pruner advertises (and is offered) only the scan's READ columns:
    // DPP resolves filterAttributes against the scan relation's OUTPUT, and
    // a reference to a pruned-away column throws at optimization time.
    // Pruning itself runs on the full table schema — manifest stats are
    // keyed by logical column names regardless of projection.
    val pruner = new RuntimePruner(required, tableSchema)
    if (mapping.isEmpty) {
      // `assemble` rebuilds the inner scan for a (possibly runtime-pruned)
      // file list: ONLY the file list varies between calls — read schema,
      // pushed filters, and reader-factory semantics are identical, which
      // is what lets BatchScanExec pair its pre-filter reader factory
      // with post-filter partitions
      def assemble(fs: Seq[SnapshotTable.FileEntry]): Scan = {
        val index = new ManifestFileIndex(spark, fs)
        val psb = ParquetScanBuilder(
          spark, index, tableSchema, tableSchema, CaseInsensitiveStringMap.empty())
        psb.pushFilters(realPushed.flatMap(f =>
          GraftScanBuilder.toExpression(f, tableSchema)).toSeq)
        psb.pruneColumns(withIdx(required))
        dvWrap(psb.build(), required)
      }
      maybeKeyGrouped(assemble, files, pruner)
        .getOrElse(new RuntimePrunedScan(assemble, files, pruner))
    } else {
      // RENAME COLUMN leaves data files carrying PHYSICAL names: build the
      // parquet scan physically (schema, pushdown filters, pruned columns
      // all translated), then report the LOGICAL names back to Spark — the
      // positional layout is identical, only readSchema()'s names differ.
      def physField(f: org.apache.spark.sql.types.StructField) =
        f.copy(name = mapping.getOrElse(f.name, f.name))
      val physTable = StructType(tableSchema.fields.map(physField))
      val physRequired = StructType(required.fields.map(physField))
      def assemble(fs: Seq[SnapshotTable.FileEntry]): Scan = {
        val index = new ManifestFileIndex(spark, fs)
        val psb = ParquetScanBuilder(
          spark, index, physTable, physTable, CaseInsensitiveStringMap.empty())
        psb.pushFilters(realPushed.flatMap(f => GraftScanBuilder.toExpression(
          GraftScanBuilder.renameFilter(f, mapping), physTable)).toSeq)
        psb.pruneColumns(withIdx(physRequired))
        // DV filter runs on the PHYSICAL scan (positions are file-keyed,
        // name mapping is irrelevant to them); logical names report on top
        new LogicalNamesScan(dvWrap(psb.build(), physRequired), required)
      }
      // runtime filters arrive under LOGICAL names — the manifest's key —
      // so the same pruner serves the column-mapped face unchanged
      new RuntimePrunedScan(assemble, files, pruner)
    }
  }

  /** Report the identity-routed layout as KeyGroupedPartitioning
   *  (storage-partitioned join) when the gating conf is on and the
   *  PRUNED file set still carries per-file bucket ids — otherwise the
   *  delegated scan stands as-is (shuffle plan, never a wrong answer).
   *  Grouping the pruned entries means a filtered scan reports only the
   *  buckets it actually reads; Spark's partially-clustered handling
   *  aligns the sides.
   *
   *  Hybrid specs (`bucket(n, c), day`) report a MULTI-key grouping:
   *  each file's identity value comes from its exact stats
   *  ([[SnapshotTable.fileSingleValue]] — single-valued column, fixed-
   *  width types), the partition key is the (bucket, values…) tuple,
   *  and a composite-key equi-join aligns with zero Exchange. Any file
   *  whose value cannot be PROVEN single (missing stats, nulls, a
   *  string column) structurally un-reports — degradation, never a
   *  wrong answer. */
  private def maybeKeyGrouped(
      assemble: Seq[SnapshotTable.FileEntry] => Scan,
      files: Seq[SnapshotTable.FileEntry],
      pruner: RuntimePruner): Option[Scan] = {
    val spark = table.spark
    val enabled = spark.conf
      .getOption("spark.sql.sources.v2.bucketing.enabled").contains("true")
    if (!enabled) return None
    lazy val built = assemble(files)
    snap.bucketLayout match {
      case Some((n, cs, subs)) if files.nonEmpty &&
          files.forall(f => f.bucket.isDefined && f.bytes > 0) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        // unique session-aware binding (SnapshotTable.resolveField): an
        // ambiguous spec column un-reports the layout (shuffle plan,
        // never a wrong co-partitioning claim)
        def resolve(c: String): Option[String] =
          SnapshotTable.resolveField(tableSchema, c).map(_.name)
        val keysR = cs.map(resolve)
        if (keysR.exists(_.isEmpty)) return None
        val keys = keysR.flatten
        // sub entries: identity columns report as attribute keys with
        // stats-derived single values; time transforms report as the
        // catalog's V2 time function with the UTC-truncated period
        val subPlansR: Seq[Option[(org.apache.spark.sql.connector.expressions.Transform,
            SnapshotTable.FileEntry => Option[Any])]] =
          subs.map { entry =>
            SnapshotTable.ClusterTransform.timeEntry(entry) match {
              case Some((unit, c)) =>
                resolve(c).map { key =>
                  val t = unit match {
                    case "years" => Expressions.years(key)
                    case "months" => Expressions.months(key)
                    case "hours" => Expressions.hours(key)
                    case _ => Expressions.days(key)
                  }
                  (t, (f: SnapshotTable.FileEntry) =>
                    table.fileTruncValue(f, key, unit, tableSchema))
                }
              case None =>
                resolve(entry).map { key =>
                  (Expressions.identity(key),
                    (f: SnapshotTable.FileEntry) =>
                      table.fileSingleValue(f, key, tableSchema))
                }
            }
          }
        if (subPlansR.exists(_.isEmpty)) return None
        val subPlans = subPlansR.flatten
        val transforms = Expressions.bucket(n, keys: _*) +: subPlans.map(_._1)
        // write-order claim: routed bucket writes sort within partitions
        // by the bucket source columns (identity subs are per-file
        // constants, so they extend the order lexicographically; time
        // subs are constants of the TRANSFORM only and stay unreported)
        val orderingCols = keys ++ subs.flatMap(entry =>
          if (SnapshotTable.ClusterTransform.timeEntry(entry).isDefined) None
          else resolve(entry))
        if (subs.isEmpty) {
          val groups = files.groupBy(_.bucket.get).toSeq.sortBy(_._1)
            .map { case (b, fs) => (Seq[Any](b), fs) }
          Some(new KeyGroupedFileScan(built, transforms, groups, Some(pruner),
            orderingCols))
        } else {
          // per-file tuples; one unprovable file kills the whole report
          val tuples = files.map { f =>
            val vs = subPlans.map(_._2(f))
            if (vs.forall(_.isDefined))
              Some((Seq[Any](f.bucket.get) ++ vs.map(_.get), f))
            else None
          }
          if (tuples.exists(_.isEmpty)) None
          else {
            val groups = tuples.flatten.groupBy(_._1).toSeq
              .sortBy(_._1.mkString("|"))
              .map { case (k, fs) => (k, fs.map(_._2)) }
            Some(new KeyGroupedFileScan(built, transforms, groups, Some(pruner),
              orderingCols))
          }
        }
      case _ => None
    }
  }
}

/** The catalog's V2 `bucket` transform function: value → `pmod(hash32,
 *  numBuckets)` with the SQL `hash()` murmur3 (seed 42) — bit-identical
 *  to BOTH [[SnapshotTable]]'s bucket cluster-transform expression and
 *  the partition index `repartition(n, col)` assigns, so the identity-
 *  routed file layout, the reported partitioning, and any runtime
 *  evaluation Spark performs (partially-clustered SPJ padding) all
 *  agree. Bound per key type; `canonicalName` is the cross-plan
 *  equality token — two scans report compatible partitioning iff their
 *  transforms resolve to this same canonical function. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, cols...): pmod(murmur3_hash32(cols, seed=42), numBuckets)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket expects (numBuckets, key, ...), got ${inputType.catalogString}")
    BoundBucket(inputType.fields.drop(1).map(_.dataType).toSeq)
  }
  final case class BoundBucket(keyTypes: Seq[DataType]) extends ScalarFunction[Int] {
    override def inputTypes(): Array[DataType] = (IntegerType +: keyTypes).toArray
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    // TYPE-QUALIFIED over the FULL key-type list: murmur3 of an int and
    // a long differ for equal numeric values, so an int-keyed and a
    // long-keyed bucket layout must never compare as co-partitioned —
    // canonicalName is the cross-plan equality token Spark checks, and a
    // bare "graft.bucket" would let the mixed pairing silently align
    // wrong buckets. A composite key's identity is the ordered list:
    // bucket(n, a:int, b:date) ≠ bucket(n, a:int) ≠ bucket(n, b, a).
    override def canonicalName(): String =
      s"graft.bucket(${keyTypes.map(_.catalogString).mkString(",")})"
    override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Int = {
      val n = input.getInt(0)
      val vs = keyTypes.indices.map(i =>
        if (input.isNullAt(i + 1)) null else input.get(i + 1, keyTypes(i)))
      java.lang.Math.floorMod(
        org.apache.spark.sql.graftshim.SparkInternals.murmur3Hash32(vs, keyTypes), n)
    }
  }
}

/** The catalog's V2 TIME transform functions (`days(ts)` etc.): UTC
 *  calendar truncation of timestamp micros, shared bit-for-bit with
 *  the hybrid layout's stats-derived partition tuples
 *  ([[SnapshotTable.TimeTrunc]]) — the reported
 *  KeyGroupedPartitioning's values and any runtime evaluation Spark
 *  performs (partially-clustered padding) agree by construction.
 *  Truncation preserves the key type, so partition values stay in the
 *  column's own micros domain. */
object GraftTimeFunction {
  val Units: Seq[String] = Seq("years", "months", "days", "hours")
  def apply(unit: String): UnboundFunction = new UnboundFunction {
    override def name(): String = unit
    override def description(): String =
      s"$unit(ts): UTC calendar truncation to the containing ${unit.stripSuffix("s")}"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1,
        s"$unit expects one timestamp argument, got ${inputType.catalogString}")
      val dt = inputType.fields(0).dataType
      require(dt == TimestampType || dt == TimestampNTZType,
        s"$unit expects a timestamp argument, got ${dt.catalogString}")
      BoundTime(unit, dt)
    }
  }
  final case class BoundTime(unit: String, keyType: DataType)
      extends ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(keyType)
    override def resultType(): DataType = keyType
    override def name(): String = unit
    // type-qualified like the bucket function: timestamp vs ntz layouts
    // must never compare as co-partitioned by accident
    override def canonicalName(): String =
      s"graft.$unit(${keyType.catalogString})"
    override def produceResult(
        input: org.apache.spark.sql.catalyst.InternalRow): java.lang.Long =
      if (input.isNullAt(0)) null
      else SnapshotTable.TimeTrunc.truncMicros(input.getLong(0), unit)
  }
}

/** Delegating [[Scan]] that reports a CLEAN identity-routed bucket
 *  layout ([[SnapshotTable.Snapshot.bucketLayout]]) as
 *  [[KeyGroupedPartitioning]]: one [[InputPartition]] per bucket
 *  (files grouped by their manifest-recorded bucket id, each partition
 *  carrying its key), read through the UNDERLYING parquet scan's
 *  reader factory — columnar batches, pushdown, and codegen untouched.
 *  With `spark.sql.sources.v2.bucketing.enabled`, two graft tables
 *  bucketed with the same (n, key-equi-joined column) then join with
 *  NO shuffle on either side — the storage-partitioned join, the plan
 *  shape that makes repeated 100 TB fact-fact joins affordable (the
 *  shuffle is paid ONCE at layout time, not per query). Degradation is
 *  structural: any snapshot that is not a clean routed layout simply
 *  never reports, and Spark plans the ordinary shuffle join. */
/** Driver-side translator from the runtime predicates Spark pushes at
 *  execution ([[SupportsRuntimeV2Filtering]] — dynamic partition
 *  pruning's IN over the broadcast side's join keys) to manifest file
 *  pruning. Reporting EVERY top-level column as filterable is sound:
 *  runtime filters only ever narrow a join input whose non-matching
 *  rows the join drops anyway, and the manifest prune itself is
 *  conservative (stats ranges + per-file blooms, keep on any doubt) —
 *  so the worst case of an un-prunable predicate is the unpruned scan
 *  Spark would have run regardless. */
final class RuntimePruner(readSchema: StructType, tableSchema: StructType) {
  def attributes: Array[NamedReference] =
    readSchema.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)
  /** The subset of `files` that may match `predicates` — None when no
   *  predicate translates (leave the scan untouched). */
  def prune(
      predicates: Array[Predicate],
      files: Seq[SnapshotTable.FileEntry]): Option[Seq[SnapshotTable.FileEntry]] = {
    val v1 = predicates.flatMap(p =>
      org.apache.spark.sql.graftshim.SparkInternals.predicateToV1(p))
    val inSets = v1.collect { case In(a, vs) => (a, vs.toSeq) }
    val generic = v1.collect { case f if !f.isInstanceOf[In] => f }
      .flatMap(GraftScanBuilder.toColumn).reduceOption(_ && _)
    if (inSets.isEmpty && generic.isEmpty) None
    else Some(SnapshotTable.pruneFilesRuntime(files, tableSchema, inSets.toSeq, generic))
  }
}

class KeyGroupedFileScan(
    underlying: Scan,
    transforms: Seq[org.apache.spark.sql.connector.expressions.Transform],
    initialGroups: Seq[(Seq[Any], Seq[SnapshotTable.FileEntry])],
    pruner: Option[RuntimePruner] = None,
    orderingCols: Seq[String] = Nil)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  @volatile private var groups = initialGroups
  /** Per-partition sort order — the second half of the SPJ dividend:
   *  with both sides of a storage-partitioned merge join reporting the
   *  key order their files were WRITTEN in, Spark drops the per-query
   *  Sort nodes too (zero Exchange AND zero Sort). Reported only when
   *  provable: every routed bucket write sorts within partitions by the
   *  cluster key (identity sub-partition values are single-valued per
   *  file — constants under any lexicographic extension), so a
   *  SINGLE-file group is key-ordered; a multi-file group concatenates
   *  sorted runs and must not report (the gate checks the INITIAL
   *  groups — runtime filtering only ever empties a group, and an empty
   *  partition is trivially sorted). Columns pruned from the read
   *  schema un-report (Spark resolves ordering refs against the scan's
   *  output and would throw). */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val names = readSchema().fieldNames
    // orderingCols arrive pre-resolved to exact physical names
    // (maybeKeyGrouped's session-aware binding) — compare exactly so an
    // ambiguous-case sibling can never claim the write order
    if (orderingCols.nonEmpty &&
        initialGroups.forall(_._2.lengthCompare(1) <= 0) &&
        orderingCols.forall(names.contains))
      orderingCols.map(c => Expressions.sort(
        Expressions.column(c),
        SortDirection.ASCENDING)).toArray
    else Array.empty
  }
  override def readSchema(): StructType = underlying.readSchema()
  // statistics forward (the LogicalNamesScan discipline) — losing them
  // would blind join-size estimation for exactly the scans meant to join
  override def estimateStatistics(): Statistics = underlying match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"KeyGrouped(${transforms.map(_.describe()).mkString(", ")}) " +
      underlying.description()
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(transforms.toArray, groups.size)
  /** Runtime (DPP) filtering composes with the reported layout: files
   *  prune WITHIN their group and every group stays — BatchScanExec
   *  demands runtime filtering preserve a KeyGroupedPartitioning's
   *  distinct partition keys exactly (a fully-pruned group plans as an
   *  empty partition), and the storage-partitioned join then runs over
   *  the narrowed sides with zero Exchange. */
  override def filterAttributes(): Array[NamedReference] =
    pruner.map(_.attributes).getOrElse(Array.empty)
  override def filter(predicates: Array[Predicate]): Unit =
    pruner.foreach { pr =>
      groups = groups.map { case (k, fs) =>
        (k, pr.prune(predicates, fs).getOrElse(fs))
      }
    }
  /** One partition per FILE, not per group — the upstream SPJ shape:
   *  Spark's own `groupPartitions` merges same-key partitions for the
   *  ordinary storage-partitioned join, and its PARTIALLY-CLUSTERED
   *  distribution (`…bucketing.partiallyClusteredDistribution.enabled`)
   *  can then leave a SKEWED side ungrouped — the hot bucket's files
   *  process as separate tasks with the other side's group replicated —
   *  which a pre-merged one-partition-per-bucket emission would make
   *  structurally impossible. A key whose files were all runtime-pruned
   *  still emits one EMPTY partition: BatchScanExec requires runtime
   *  filtering to preserve the distinct key set. */
  override def planInputPartitions(): Array[InputPartition] = {
    val out = Array.newBuilder[InputPartition]
    var i = 0
    groups.foreach { case (key, fs) =>
      if (fs.isEmpty) {
        out += org.apache.spark.sql.graftshim.SparkInternals
          .keyedFilePartition(i, Nil, key)
        i += 1
      } else fs.foreach { f =>
        out += org.apache.spark.sql.graftshim.SparkInternals
          .keyedFilePartition(i, Seq((f.path, f.bytes)), key)
        i += 1
      }
    }
    out.result()
  }
  override def createReaderFactory(): PartitionReaderFactory =
    underlying.toBatch.createReaderFactory()
}

/** Runtime-filterable face of the non-key-grouped scan layouts (plain,
 *  DV-overlaid, column-mapped): on [[filter]], the manifest file list
 *  re-prunes against the pushed predicates (stats ranges + per-file
 *  bloom key probes — [[SnapshotTable.pruneFilesRuntime]]) and the
 *  inner scan REASSEMBLES over the survivors. The reassembly varies
 *  only the file list — read schema, pushed static filters, and
 *  reader-factory semantics are bit-identical — because BatchScanExec
 *  caches its reader factory from the PRE-filter batch and pairs it
 *  with post-filter partitions. At 100 TB this is the fact-side join
 *  optimization: a selective dim filter reaches the fact scan at
 *  execution and drops manifest files wholesale, paying one bounded
 *  driver-side probe pass instead of reading them. */
/** [[org.apache.spark.sql.execution.datasources.FileIndex]] served
 *  ENTIRELY from the commit manifest — no filesystem listing, no
 *  per-file status round trips, no driver-side listing JOB. The
 *  manifest already records every live file's exact path and length
 *  (harvested from the writer's own FileStatus at commit time — the
 *  parquet reader locates the footer at length−8, so exactness is a
 *  commit invariant, not an optimization). [[InMemoryFileIndex]] here
 *  re-stat'ed every path and, above the parallel-discovery threshold
 *  (32 paths), launched a Spark listing job PER SCAN BUILD — measured
 *  ~2.9 s of plan-time latency on a 2048-file snapshot, paid by every
 *  unpruned query and dominating the DPP-on wall at the bench's
 *  largest point. At 100 TB (10⁵–10⁶ files, object-store GETs) this is
 *  the difference between metadata-served planning and a listing storm
 *  — the Iceberg/Delta design: the table format IS the file index.
 *  Modification times come from the manifest too (harvested from the
 *  writer's FileStatus at commit time — sound because data files are
 *  immutable), so `_metadata.file_modification_time` reports the real
 *  value; entries from pre-mtime commit logs fall back to epoch 0. */
class ManifestFileIndex(
    spark: org.apache.spark.sql.SparkSession,
    entries: Seq[SnapshotTable.FileEntry])
    extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
      spark, Map.empty, None) {
  import org.apache.hadoop.fs.FileStatus
  // paths must be QUALIFIED (scheme + authority): FileSourceScanExec /
  // PartitionedFileUtil re-derive filesystems from these paths, and a
  // raw manifest path (`/x/y.parquet`) would resolve scheme-lessly.
  // Built ONCE per index (lazy val) and in PARALLEL above a threshold:
  // Path/URI construction is the dominant per-entry cost, ~6 s of
  // single-threaded driver work at the 2^20-file design point, and the
  // entries are independent (FileSystem.makeQualified is a read-only
  // uri/path computation, safe across threads).
  private lazy val statuses: Array[FileStatus] = {
    if (entries.isEmpty) Array.empty
    else {
      val conf = spark.sessionState.newHadoopConf()
      val fs = new Path(entries.head.path).getFileSystem(conf)
      val arr = entries.toArray
      def status(e: SnapshotTable.FileEntry): FileStatus =
        new FileStatus(e.bytes, false, 1, 128L * 1024 * 1024,
          e.mtime.getOrElse(0L), fs.makeQualified(new Path(e.path)))
      if (arr.length < 4096) arr.map(status)
      else java.util.stream.IntStream.range(0, arr.length).parallel()
        .mapToObj(i => status(arr(i)))
        .toArray(new Array[FileStatus](_))
    }
  }
  override def rootPaths: Seq[Path] =
    statuses.iterator.map(_.getPath.getParent).distinct.toSeq
  override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
    org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
  // The manifest IS the listing: serve allFiles/listFiles/sizeInBytes
  // straight from the statuses array instead of the inherited
  // qualify-roots → leafDir-lookup dance — each inherited call re-ran an
  // O(files) Path-churning pass, and a scan build consults these 3–4
  // times (measured 1.7–3.7 s PER CALL at 2^20 files). There are no
  // partition columns, so the one PartitionDirectory is the whole
  // answer and partition/data filters cannot prune anything here
  // (manifest-level pruning already happened upstream via
  // prunedManifest/pruneFilesRuntime).
  override def allFiles(): Seq[FileStatus] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(statuses)
  private lazy val partitionDirs =
    Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
      org.apache.spark.sql.catalyst.InternalRow.empty, statuses))
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
    partitionDirs
  override lazy val sizeInBytes: Long = entries.map(_.bytes).sum
  // never consulted after the overrides above, but the parent declares
  // them abstract; lazy so they are not built unless something asks
  override lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap[Path, FileStatus]()
    statuses.foreach(s => m(s.getPath) = s)
    m
  }
  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs }
  override def refresh(): Unit = ()
}

class RuntimePrunedScan(
    assemble: Seq[SnapshotTable.FileEntry] => Scan,
    initialFiles: Seq[SnapshotTable.FileEntry],
    pruner: RuntimePruner)
    extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics {
  @volatile private var files = initialFiles
  @volatile private var inner = assemble(initialFiles)
  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = inner.toBatch
  override def description(): String = "RuntimePrunable " + inner.description()
  // pre-filter estimates: only ever OVERstate, join planning stays safe
  override def estimateStatistics(): Statistics = inner match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
  override def filterAttributes(): Array[NamedReference] = pruner.attributes
  override def filter(predicates: Array[Predicate]): Unit =
    pruner.prune(predicates, files).foreach { kept =>
      if (kept.size < files.size) {
        files = kept
        inner = assemble(kept)
      }
    }
}

/** Delegating [[Scan]] over a parquet scan built with PHYSICAL column
 *  names (column mapping): reports the LOGICAL read schema so Spark's
 *  plan attributes bind by name, while batches flow through positionally
 *  unchanged. Statistics forward; runtime filtering is intentionally not
 *  forwarded (correctness never depends on it). */
class LogicalNamesScan(underlying: Scan, logical: StructType)
    extends Scan with SupportsReportStatistics {
  override def readSchema(): StructType = logical
  override def toBatch: Batch = underlying.toBatch
  override def description(): String = underlying.description()
  override def estimateStatistics(): Statistics = underlying match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
}

/** One-partition scan carrying metadata-answered aggregate rows — one
 *  row for a global aggregate, one row per distinct group tuple when a
 *  GROUP BY over provably single-valued columns was pushed. Spark binds
 *  the fields positionally (group columns first, then the pushed
 *  aggregate functions) and applies its own final merge (sum of counts,
 *  min of mins), so partial rows are exactly right. */
class MetadataAggScan(aggSchema: StructType, rows: Seq[Array[Any]], source: String)
    extends Scan with Batch with Serializable {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMetadataAgg [${aggSchema.fieldNames.mkString(", ")}] $source"
  override def planInputPartitions(): Array[InputPartition] =
    Array(MetadataAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory = MetadataAggReaderFactory
}

final case class MetadataAggPartition(rows: Seq[Array[Any]]) extends InputPartition

object MetadataAggReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val all = partition.asInstanceOf[MetadataAggPartition].rows
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private val it = all.iterator
      private var values: Array[Any] = null
      override def next(): Boolean =
        if (it.hasNext) { values = it.next(); true } else false
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
      override def close(): Unit = ()
    }
  }
}

object GraftScanBuilder {

  /** Pushed-LIMIT file capping: manifest files in order until their
   *  exact live row counts reach the bound. A file with UNKNOWN row
   *  count (rows == -1) is kept but contributes nothing toward the
   *  bound — dropping it could silently return fewer rows than exist. */
  private[graft] def limitCap(
      files: Seq[SnapshotTable.FileEntry],
      dvDel: Map[String, Long],
      l: Int): Seq[SnapshotTable.FileEntry] = {
    val out = Seq.newBuilder[SnapshotTable.FileEntry]
    var cum = 0L
    val it = files.iterator
    while (cum < l && it.hasNext) {
      val f = it.next()
      if (f.rows < 0) { out += f }
      else {
        val live = f.rows - dvDel.getOrElse(new Path(f.path).getName, 0L)
        if (live > 0) { out += f; cum += live }
      }
    }
    out.result()
  }

  /** The [[GraftScanBuilder.pushTopN]] θ rule over a manifest file list;
   *  `dvDel` is the per-file-name pending-deletion count. DESC mirrors
   *  with min/max swapped. Keeps the original manifest order of the
   *  survivors. `dt` drives bound parsing: numeric/temporal keys parse
   *  the stringified long; STRING keys are usable only on files whose
   *  bounds carry the writer-exact flag ([[SnapshotTable.ColStats]]
   *  `exact`) and compare in UTF8String binary order (Spark's string
   *  ordering) — a file with truncated/adopted bounds is always kept
   *  and contributes nothing toward θ, per-file conservative.
   *  Soundness invariant (randomized-spec-pinned): the kept set always
   *  contains every file holding any of the true top n. */
  private[sql] def topNCap(
      files: Seq[SnapshotTable.FileEntry],
      dvDel: Map[String, Long],
      col: String, asc: Boolean, n: Int,
      dt: DataType = LongType): Seq[SnapshotTable.FileEntry] = {
    def stat(f: SnapshotTable.FileEntry): Option[SnapshotTable.ColStats] =
      f.stats.get(col).orElse {
        // legacy manifests may key stats under a different case; trust
        // the entry only when the case-insensitive match is UNIQUE
        val m = f.stats.keys.filter(_.equalsIgnoreCase(col)).toSeq
        if (m.size == 1) f.stats.get(m.head) else None
      }
    def parsed(cs: SnapshotTable.ColStats, takeMin: Boolean): Option[Any] = {
      val s = if (takeMin) cs.min else cs.max
      dt match {
        case StringType =>
          if (cs.exact.contains(true))
            s.map(org.apache.spark.unsafe.types.UTF8String.fromString)
          else None
        case _ => s.flatMap(v => scala.util.Try(v.toLong: Any).toOption)
      }
    }
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: org.apache.spark.unsafe.types.UTF8String,
            y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case _ => throw new IllegalStateException(s"unexpected bound types $a / $b")
    }
    final case class B(f: SnapshotTable.FileEntry, lo: Any, hi: Any, live: Long)
    val (bounded, alwaysKeep) = files.partition { f =>
      stat(f).exists(cs => cs.nullCount.contains(0L) &&
        parsed(cs, takeMin = true).isDefined && parsed(cs, takeMin = false).isDefined)
    }
    if (bounded.isEmpty) return files
    val bs = bounded.map { f =>
      val cs = stat(f).get
      B(f, parsed(cs, takeMin = true).get, parsed(cs, takeMin = false).get,
        math.max(0L, f.rows - dvDel.getOrElse(new Path(f.path).getName, 0L)))
    }
    // θ: ascending ⇒ walk by max asc; descending ⇒ by min desc
    val ord = new Ordering[Any] { def compare(a: Any, b: Any): Int = cmp(a, b) }
    val walk = if (asc) bs.sortBy(_.hi)(ord) else bs.sortBy(_.lo)(ord.reverse)
    var cum = 0L
    var theta: Option[Any] = None
    val it = walk.iterator
    while (theta.isEmpty && it.hasNext) {
      val b = it.next()
      cum += b.live
      if (cum >= n) theta = Some(if (asc) b.hi else b.lo)
    }
    theta match {
      case None => files // fewer than n provable rows: no pruning
      case Some(t) =>
        val keep = bs.filter(b => if (asc) cmp(b.lo, t) <= 0 else cmp(b.hi, t) >= 0)
          .map(_.f).toSet ++ alwaysKeep
        files.filter(keep)
    }
  }

  /** Fold COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over the commit
   *  manifest. Returns the scan output schema (positional, matching the
   *  aggregate list) and the single partial row, or None when any
   *  aggregate can't be answered exactly from stats. */
  private[sql] def metadataAggregate(
      table: SnapshotTable,
      snap: SnapshotTable.Snapshot,
      agg: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    // manifest row counts OVERCOUNT when deletion vectors are pending —
    // nothing exact is provable until they are purged
    if (snap.dvPaths.nonEmpty) return None
    val (files, schema) = (snap.files, snap.schema)
    // rows == -1 marks a foreign/adopted file whose footer row count was
    // unreadable — nothing is provable from this manifest
    if (files.exists(_.rows < 0)) return None

    // exact-stats domains: stats strings hold the full long value
    def statsExact(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => true
      case _ => false
    }
    def field(e: V2Expression): Option[StructField] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        schema.fields.find(_.name == f.fieldNames()(0))
      case _ => None
    }
    // internal-row representation of a manifest bound (Date=days Int,
    // Timestamp=micros Long — exactly the stats domains)
    def internal(v: Long, dt: DataType): Any = dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case _ => v
    }
    def bound(fs: Seq[SnapshotTable.FileEntry], name: String, dt: DataType,
        takeMin: Boolean): Option[Any] = {
      if (fs.isEmpty) return Some(null) // empty table: MIN/MAX is NULL
      dt match {
        case StringType =>
          // strings only when EVERY file's bounds carry the writer-exact
          // flag — verbatim values, so the fold is the true MIN/MAX.
          // Truncated/adopted bounds refuse (a truncated max understates;
          // an incremented one overstates). Compare in UTF8String binary
          // order — exactly Spark's string ordering.
          val sts = fs.map(_.stats.get(name))
          if (sts.exists(s => s.isEmpty || !s.get.exact.contains(true)))
            return None
          val bs = sts.map(s => if (takeMin) s.get.min else s.get.max)
          if (bs.exists(_.isEmpty)) return None // all-null file: no bound
          val vals = bs.map(b =>
            org.apache.spark.unsafe.types.UTF8String.fromString(b.get))
          Some(vals.reduce((a, b) =>
            if ((a.compareTo(b) <= 0) == takeMin) a else b))
        case _ =>
          if (!statsExact(dt)) return None
          val bounds = fs.map(_.stats.get(name).flatMap(s => if (takeMin) s.min else s.max))
          if (bounds.exists(_.isEmpty)) return None // a file without stats
          val longs = bounds.map(_.get.toLong)
          Some(internal(if (takeMin) longs.min else longs.max, dt))
      }
    }

    // each aggregate resolves to (output field, fold over a FILE SET) —
    // the same fold serves the global row and every per-group row
    val evals: Seq[Option[(StructField, Seq[SnapshotTable.FileEntry] => Option[Any])]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(StructField("count(*)", LongType, nullable = false) ->
            ((fs: Seq[SnapshotTable.FileEntry]) => Some(fs.map(_.rows).sum: Any)))
        case c: Count if !c.isDistinct =>
          field(c.column).map { f =>
            StructField(s"count(${f.name})", LongType, nullable = false) ->
              ((fs: Seq[SnapshotTable.FileEntry]) =>
                if (!f.nullable) Some(fs.map(_.rows).sum: Any)
                else {
                  val nulls = fs.map(_.stats.get(f.name).flatMap(_.nullCount))
                  if (nulls.exists(_.isEmpty)) None
                  else Some((fs.map(_.rows).sum - nulls.map(_.get).sum): Any)
                })
          }
        case m: Min =>
          field(m.column).map(f => StructField(s"min(${f.name})", f.dataType) ->
            ((fs: Seq[SnapshotTable.FileEntry]) => bound(fs, f.name, f.dataType, takeMin = true)))
        case m: Max =>
          field(m.column).map(f => StructField(s"max(${f.name})", f.dataType) ->
            ((fs: Seq[SnapshotTable.FileEntry]) => bound(fs, f.name, f.dataType, takeMin = false)))
        case _ => None
      }
    if (evals.exists(_.isEmpty)) return None
    val resolved = evals.flatten
    def rowFor(fs: Seq[SnapshotTable.FileEntry]): Option[Seq[Any]] = {
      val vs = resolved.map(_._2(fs))
      if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
    }

    // GROUP BY pushdown — metadata-only per-PARTITION aggregation
    // (Iceberg's partitions-metadata-table query): allowed exactly when
    // every group key is either a plain column that every file PROVES
    // single-valued (min == max, zero nulls, exact-stats type —
    // `fileSingleValue`, the hybrid-SPJ derivation), i.e. the layout's
    // partition columns, or a datetime-field EXTRACT over a timestamp
    // column whose per-file TRUNCATION at the field's nailing
    // granularity is provably constant (`fileTruncValue` — the
    // `months(ts)`-layout file sets). Each distinct tuple folds its own
    // file set; Spark's final aggregation merges the partial rows, so
    // one row per tuple is exactly right. Anything unprovable refuses →
    // full scan.
    //
    // `GROUP BY month(ts)` arrives as `EXTRACT(MONTH FROM CAST(ts AS
    // date))` — the session-timezone-dependent cast means this is only
    // servable when the session zone matches the UTC calendar our
    // truncation (and the layout's writer split) computes in; any other
    // zone refuses. TimestampNTZ is zone-free and always eligible.
    // Equality of extracts alone would NOT be sound (min/max both in
    // January of different years share MONTH=1 while June rows sit
    // between them) — the proof is trunc(min) == trunc(max) at the
    // granularity that NAILS the field: YEAR→years, QUARTER/MONTH→
    // months, DAY→days, HOUR→hours.
    def extractPlan(ex: org.apache.spark.sql.connector.expressions.Extract)
        : Option[(StructField, SnapshotTable.FileEntry => Option[Any])] = {
      def unwrap(e: V2Expression): Option[StructField] = e match {
        case c: org.apache.spark.sql.connector.expressions.Cast
            if c.dataType() == org.apache.spark.sql.types.DateType =>
          unwrap(c.expression())
        case r: NamedReference if r.fieldNames.length == 1 =>
          SnapshotTable.resolveField(schema, r.fieldNames()(0))
        case _ => None
      }
      for {
        f <- unwrap(ex.source())
        if f.dataType == org.apache.spark.sql.types.TimestampNTZType ||
          (f.dataType == TimestampType &&
            table.spark.sessionState.conf.sessionLocalTimeZone == "UTC")
        unit <- ex.field().toUpperCase match {
          case "YEAR" => Some("years")
          case "QUARTER" | "MONTH" => Some("months")
          case "DAY" => Some("days")
          case "HOUR" => Some("hours")
          case _ => None
        }
      } yield {
        def fieldOf(micros: Long): Int = {
          val ldt = java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochMilli(Math.floorDiv(micros, 1000L)),
            java.time.ZoneOffset.UTC)
          ex.field().toUpperCase match {
            case "YEAR" => ldt.getYear
            case "QUARTER" => (ldt.getMonthValue - 1) / 3 + 1
            case "MONTH" => ldt.getMonthValue
            case "DAY" => ldt.getDayOfMonth
            case "HOUR" => ldt.getHour
          }
        }
        (StructField(s"${ex.field().toLowerCase}(${f.name})", IntegerType,
          nullable = false),
          (fe: SnapshotTable.FileEntry) =>
            table.fileTruncValue(fe, f.name, unit, schema).map(fieldOf))
      }
    }
    val groupPlans: Seq[Option[(StructField, SnapshotTable.FileEntry => Option[Any])]] =
      agg.groupByExpressions.toSeq.map {
        case ex: org.apache.spark.sql.connector.expressions.Extract =>
          extractPlan(ex)
        case e => field(e).map(gf => (gf.copy(nullable = false),
          (fe: SnapshotTable.FileEntry) => table.fileSingleValue(fe, gf.name, schema)))
      }
    if (groupPlans.exists(_.isEmpty)) return None
    val gps = groupPlans.flatten
    if (gps.isEmpty)
      rowFor(files).map(vs =>
        (StructType(resolved.map(_._1)), Seq(vs.toArray)))
    else {
      val keyed = files.map { f =>
        val t = gps.map(_._2(f))
        if (t.exists(_.isEmpty)) return None
        (t.map(_.get), f)
      }
      val rows = keyed.groupBy(_._1).toSeq.sortBy(_._1.mkString("|"))
        .map { case (tuple, kfs) =>
          rowFor(kfs.map(_._2)) match {
            case Some(vs) => (tuple ++ vs).toArray
            case None => return None
          }
        }
      Some((StructType(gps.map(_._1) ++ resolved.map(_._1)),
        rows))
    }
  }

  /** v1 Filter → Column predicate for the shapes our stats pruning (and
   *  parquet pushdown underneath) understands. */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) if vs.nonEmpty => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    // SupportsDeleteV2's default truncateTable() probes with [AlwaysTrue];
    // leaving it untranslated makes SQL TRUNCATE TABLE a SILENT no-op
    // (TruncateTableExec ignores the false return)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case _ => None
  }

  /** `f` with attribute names translated logical→physical (RENAME COLUMN
   *  column mapping) so parquet row-group pushdown hits the file names.
   *  Covers exactly the shapes [[toColumn]] accepts (nothing else is
   *  ever pushed); an untranslated shape passes through harmlessly. */
  def renameFilter(f: Filter, m: Map[String, String]): Filter = {
    def a(n: String) = m.find(_._1.equalsIgnoreCase(n)).map(_._2).getOrElse(n)
    f match {
      case EqualTo(n, v) => EqualTo(a(n), v)
      case GreaterThan(n, v) => GreaterThan(a(n), v)
      case GreaterThanOrEqual(n, v) => GreaterThanOrEqual(a(n), v)
      case LessThan(n, v) => LessThan(a(n), v)
      case LessThanOrEqual(n, v) => LessThanOrEqual(a(n), v)
      case In(n, vs) => In(a(n), vs)
      case IsNull(n) => IsNull(a(n))
      case IsNotNull(n) => IsNotNull(a(n))
      case StringStartsWith(n, v) => StringStartsWith(a(n), v)
      case And(l, r) => And(renameFilter(l, m), renameFilter(r, m))
      case Or(l, r) => Or(renameFilter(l, m), renameFilter(r, m))
      case other => other
    }
  }

  /** v1 Filter → resolved Catalyst predicate (what [[ParquetScanBuilder]]'s
   *  `pushFilters` wants, so the parquet reader gets row-group pushdown). */
  def toExpression(f: Filter, schema: StructType): Option[ce.Expression] = {
    def ref(name: String): Option[ce.AttributeReference] =
      SnapshotTable.resolveField(schema, name)
        .map(fld => ce.AttributeReference(fld.name, fld.dataType, fld.nullable)())
    f match {
      case EqualTo(a, v) => ref(a).map(r => ce.EqualTo(r, ce.Literal(v)))
      case GreaterThan(a, v) => ref(a).map(r => ce.GreaterThan(r, ce.Literal(v)))
      case GreaterThanOrEqual(a, v) => ref(a).map(r => ce.GreaterThanOrEqual(r, ce.Literal(v)))
      case LessThan(a, v) => ref(a).map(r => ce.LessThan(r, ce.Literal(v)))
      case LessThanOrEqual(a, v) => ref(a).map(r => ce.LessThanOrEqual(r, ce.Literal(v)))
      case In(a, vs) if vs.nonEmpty =>
        ref(a).map(r => ce.In(r, vs.toIndexedSeq.map(v => ce.Literal(v))))
      case IsNull(a) => ref(a).map(ce.IsNull)
      case IsNotNull(a) => ref(a).map(ce.IsNotNull)
      case StringStartsWith(a, v) => ref(a).map(r => ce.StartsWith(r, ce.Literal(v)))
      case And(l, r) =>
        for (lc <- toExpression(l, schema); rc <- toExpression(r, schema))
          yield ce.And(lc, rc)
      case Or(l, r) =>
        for (lc <- toExpression(l, schema); rc <- toExpression(r, schema))
          yield ce.Or(lc, rc)
      case _ => None
    }
  }
}

/** Append / truncate-overwrite / predicate-scoped overwrite. The
 *  `SupportsOverwrite` face serves both `df.writeTo(t).overwrite(cond)`
 *  and SQL `INSERT INTO t REPLACE WHERE cond …` — Delta's replaceWhere,
 *  routed to [[SnapshotTable.overwriteWhere]]'s single-commit
 *  delete-matching + insert. */
class GraftWriteBuilder(table: SnapshotTable)
    extends WriteBuilder with SupportsOverwrite {

  private var overwrite = false
  private var replaceWhere: Option[Column] = None

  override def truncate(): WriteBuilder = { overwrite = true; this }

  // toColumn already covers AlwaysTrue (→ lit(true))
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftScanBuilder.toColumn(f).isDefined)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) overwrite = true
    else {
      val cols = filters.map(f => GraftScanBuilder.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft REPLACE WHERE cannot express filter $f")))
      replaceWhere = Some(cols.reduce(_ && _))
    }
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ignored: Boolean): Unit =
          replaceWhere match {
            case Some(cond) => table.overwriteWhere(cond, data)
            case None => if (overwrite) table.overwrite(data) else table.append(data)
          }
      }
  }
}
