package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A minimal [[TableCatalog]] over a warehouse directory of graft table
  * roots, so teams address tables BY NAME instead of by path — at
  * cluster scale the catalog is how tables are shared:
  *
  * {{{
  * spark.sql.catalog.graft      = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.root = /data/graft-warehouse
  *
  * CREATE TABLE graft.ns.t (id BIGINT, v DOUBLE) USING graft
  *   TBLPROPERTIES ('key' = 'id')
  * INSERT INTO graft.ns.t ...               -- V2 write -> CoW version
  * SELECT * FROM graft.ns.t                 -- latest committed state
  * SELECT * FROM graft.ns.t VERSION AS OF 3 -- time travel
  * MERGE INTO graft.ns.t ...                -- SQL DML (GraftDmlRule)
  * DROP TABLE graft.ns.t
  * }}}
  *
  * Identifier `ns...t` maps to `<root>/<ns...>/<t>` — the same versioned
  * layout [[graft.GraftTable]] owns (`base` + `v<n>` snapshots), so
  * path-based and name-based access are interchangeable. CREATE TABLE
  * commits an EMPTY base snapshot (schema + merge key in the manifest,
  * zero data files); the first insert is a merge that writes one new
  * file per bucket it upserts into. The catalog holds NO state of its own — the filesystem layout
  * is the catalog, so there is nothing extra to replicate or recover. */
final class GraftCatalog extends TableCatalog with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var root: String = _

  /** FUNCTION CATALOG: serves the `bucket` transform function so Spark
    * can resolve the KeyGroupedPartitioning bucketed graft scans report
    * — the handshake storage-partitioned joins need. Path-based reads
    * carry no function catalog, which is why SPJ requires the table to
    * be catalog-addressed. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucket.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root=<warehouse dir>"))
  }

  override def name(): String = catalogName

  private def dirFor(ident: Identifier): String =
    (root +: (ident.namespace().toSeq :+ ident.name())).mkString("/")

  private def isTableDir(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir, "base"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = (root +: namespace.toSeq).mkString("/")
    if (!Files.isDirectory(Paths.get(nsDir))) return Array.empty
    val s = Files.list(Paths.get(nsDir))
    try s.iterator().asScala
      // dot-prefixed dirs are invisible staging (.ctas- / .replaced-)
      .filter(p => !p.getFileName.toString.startsWith(".") &&
        isTableDir(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirFor(ident)
    if (isTableDir(dir)) return GraftSource.tableFor(Map("path" -> dir))
    // metadata table `<table>.changes` — the change-data feed as a
    // relation: `SELECT * FROM graft.ns.t.changes` (batch) and
    // `spark.readStream.table("graft.ns.t.changes")` (one micro-batch
    // per feed-persisted commit); version bounds come as read options
    // (startingVersion / endingVersion)
    if (ident.namespace().nonEmpty) {
      val parent = (root +: ident.namespace().toSeq).mkString("/")
      if (isTableDir(parent)) ident.name() match {
        case "changes" =>
          return GraftSource.tableFor(
            Map("path" -> parent, "changeFeed" -> "true"))
        // manifest-answered audit relations ([[GraftMetaTables]]):
        // `SELECT * FROM graft.ns.t.history` / `...t.files`
        case "history" =>
          return new GraftRowsTable(s"$parent#history",
            GraftMetaTables.HistorySchema,
            () => GraftMetaTables.historyRows(parent))
        case "files" =>
          return new GraftRowsTable(s"$parent#files",
            GraftMetaTables.FilesSchema,
            () => GraftMetaTables.filesRows(parent))
        case "detail" =>
          return new GraftRowsTable(s"$parent#detail",
            GraftMetaTables.DetailSchema,
            () => GraftMetaTables.detailRows(parent))
        case _ => ()
      }
    }
    throw new NoSuchTableException(ident)
  }

  /** SQL time travel: `SELECT ... FROM graft.ns.t VERSION AS OF <n>`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirFor(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    GraftSource.tableFor(Map("path" -> dir, "version" -> version))
  }

  /** SQL time travel by wall clock: `TIMESTAMP AS OF <ts>`. Spark hands
    * the evaluated timestamp as epoch MICROseconds; resolution is the
    * newest version whose manifest `committedAtMs` is at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirFor(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    GraftSource.tableFor(Map("path" -> dir,
      "timestampAsOf" -> java.lang.Long.toString(
        Math.floorDiv(timestamp, 1000L))))
  }

  /** Validate CREATE properties → (key columns, optional bucket count).
    * 'key' = one column, or a comma-separated tuple for COMPOSITE
    * identity: the first column routes (files/zone maps), the full tuple
    * is row identity. 'buckets' = n opts into the hash-bucketed
    * storage-partitioned-join layout ([[GraftBucket]]). */
  private def tableSpec(schema: StructType, partitions: Array[Transform],
                        properties: JMap[String, String])
      : (Seq[String], Option[Int], Map[String, String]) = {
    require(partitions.isEmpty,
      "graft tables are key-sorted, not partitioned — Z-order/sort " +
        "within the layout instead of directory partitioning")
    val keyCols = Option(properties.get("key")).map(
        _.split(',').map(_.trim).toSeq.filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "CREATE TABLE ... USING graft requires TBLPROPERTIES ('key' = '<merge key column[, more]>')"))
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key $k is not a column of ${schema.fieldNames.mkString(", ")}"))
    val buckets = Option(properties.get("buckets")).map(_.trim.toInt)
    buckets.foreach(n => require(n > 0, s"buckets must be positive, got $n"))
    // `'check.<name>' = '<boolean sql>'` TBLPROPERTIES declare CHECK
    // constraints, validated against the declared schema here and
    // enforced on every write thereafter
    val checks = scala.collection.immutable.ListMap(
      properties.asScala.toSeq.sortBy(_._1).collect {
        case (k, v) if k.startsWith("check.") && k.length > 6 =>
          k.drop(6) -> v
      }: _*)
    checks.foreach { case (n, e) =>
      GraftChecks.validateExpr(SparkSession.active, schema, n, e) }
    (keyCols, buckets, checks)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val (keyCols, buckets, checks) = tableSpec(schema, partitions, properties)
    val dir = dirFor(ident)
    if (isTableDir(dir)) throw new TableAlreadyExistsException(ident)
    MutableParquetTable.commitEmpty(s"$dir/base", keyCols.head, schema,
      keyCols.tail, buckets, checks)
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD/DROP/RENAME COLUMN(S)` as METADATA-ONLY
    * commits: the next version references every current data file in
    * place — zero data IO at any table size. ADD: existing files lack
    * the new column, which the scan reads as null. DROP: scans stop
    * projecting; the name is blocklisted against resurrection. RENAME:
    * the manifest maps the new logical name to the column's on-file
    * birth name; scans alias at the file boundary. Retyping stays
    * unsupported (it would break files already written), and key
    * columns are immutable identity. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirFor(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    // `ALTER TABLE ... SET TBLPROPERTIES ('check.<name>' = '<expr>')`
    // adds a CHECK constraint (validating the whole current table once);
    // UNSET drops it. Both are metadata-only commits.
    val (checkProps, rest) = changes.partition {
      case p: TableChange.SetProperty    => p.property.startsWith("check.")
      case p: TableChange.RemoveProperty => p.property.startsWith("check.")
      case _                             => false
    }
    if (checkProps.nonEmpty) {
      val latest = graft.streaming.CdcMergeSink.latestSnapshot(dir)
      val t = graft.GraftTable(SparkSession.active, dir,
        Manifest.read(latest).map(_.key).getOrElse(
          throw new IllegalStateException(
            s"$latest carries no merge key — not a graft table")))
      // ONE atomic commit + ONE validation scan for the whole statement
      // (several check.* properties must not half-apply on failure)
      val adds = checkProps.collect {
        case p: TableChange.SetProperty => p.property.drop(6) -> p.value
      }.toMap
      val drops = checkProps.collect {
        case p: TableChange.RemoveProperty => p.property.drop(6)
      }
      t.alterChecks(adds, drops)
      if (rest.isEmpty) return loadTable(ident)
    }
    // `ALTER TABLE ... DROP COLUMN [IF EXISTS] a, b` — metadata-only
    // narrowing (the GraftTable.dropColumns contract: key columns and
    // check-referenced columns refuse; names are blocklisted against
    // resurrection). ALL drops of the statement land as ONE commit —
    // per-column commits would half-apply the statement when a later
    // column fails validation, the non-atomic-DDL hazard alterChecks
    // already closes for batched check.* properties. A statement mixing
    // IF EXISTS and plain drops takes the strict path (missing → error).
    val (colDrops, nonDrops) =
      rest.partition(_.isInstanceOf[TableChange.DeleteColumn])
    if (colDrops.nonEmpty) {
      val latest = graft.streaming.CdcMergeSink.latestSnapshot(dir)
      val t = graft.GraftTable(SparkSession.active, dir,
        Manifest.read(latest).map(_.key).getOrElse(
          throw new IllegalStateException(
            s"$latest carries no merge key — not a graft table")))
      val drops = colDrops.map { case d: TableChange.DeleteColumn =>
        // multi-part names drop NESTED struct fields ("s.c") — same
        // metadata-only commit, dotted blocklist entry
        (d.fieldNames().mkString("."), d.ifExists())
      }
      t.dropColumns(drops.map(_._1), ifExists = drops.forall(_._2))
      if (nonDrops.isEmpty) return loadTable(ident)
    }
    // `ALTER TABLE ... ALTER COLUMN x TYPE wider` — metadata-only for
    // the widening-safe pairs (GraftTable.alterColumnType: parquet
    // readers upcast narrow physicals; anything else refuses)
    val (colTypes, nonTypes) = nonDrops.partition(
      _.isInstanceOf[TableChange.UpdateColumnType])
    if (colTypes.nonEmpty) {
      val latest = graft.streaming.CdcMergeSink.latestSnapshot(dir)
      val t = graft.GraftTable(SparkSession.active, dir,
        Manifest.read(latest).map(_.key).getOrElse(
          throw new IllegalStateException(
            s"$latest carries no merge key — not a graft table")))
      colTypes.foreach { case u: TableChange.UpdateColumnType =>
        // multi-part names retype NESTED struct fields ("s.c") — the
        // readers' upcast is per leaf column chunk, nesting-agnostic
        t.alterColumnType(u.fieldNames().mkString("."), u.newDataType())
      }
      if (nonTypes.isEmpty) return loadTable(ident)
    }
    // `ALTER TABLE ... RENAME COLUMN a TO b` — metadata-only via the
    // manifest's logical→physical mapping (GraftTable.renameColumn:
    // key columns and check-referenced columns refuse; data files keep
    // the birth name, scans alias at the file boundary)
    val (colRenames, others) =
      nonTypes.partition(_.isInstanceOf[TableChange.RenameColumn])
    if (colRenames.nonEmpty) {
      val latest = graft.streaming.CdcMergeSink.latestSnapshot(dir)
      val t = graft.GraftTable(SparkSession.active, dir,
        Manifest.read(latest).map(_.key).getOrElse(
          throw new IllegalStateException(
            s"$latest carries no merge key — not a graft table")))
      colRenames.foreach { case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          s"nested column ${r.fieldNames().mkString(".")} is not supported")
        t.renameColumn(r.fieldNames().head, r.newName())
      }
      if (others.isEmpty) return loadTable(ident)
    }
    val adds = others.map {
      case a: TableChange.AddColumn => a
      case c => throw new UnsupportedOperationException(
        s"only ADD COLUMN, DROP COLUMN, RENAME COLUMN, widening ALTER " +
          s"COLUMN TYPE and check.* table properties are supported (got " +
          s"${c.getClass.getSimpleName}) — schema otherwise evolves " +
          "through merges, and non-widening retypes would misread " +
          "committed files")
    }
    val table = loadTable(ident)
    val schema = table.asInstanceOf[GraftBatchTable].schema
    val widened = adds.foldLeft(schema) { (s, a) =>
      val path = a.fieldNames().toSeq
      require(a.isNullable,
        s"new column ${path.mkString(".")} must be nullable — existing " +
          "rows have no value")
      // multi-part paths add NESTED struct fields ("s.c"): old files
      // read the new field as null (parquet missing-field semantics),
      // rewrites carry it physically — the same metadata-only mechanics
      // as a top-level ADD; addNestedField validates struct prefixes
      // and duplicate leaves
      graft.GraftTable.addNestedField(s, path, a.dataType())
    }
    // expectedSchema: a concurrent ADD/DROP between the schema read above
    // and the publish would be silently stomped by restaging this widened
    // schema — fail the statement instead (same drift class as dropColumns)
    graft.OptimisticCommit.commitSchema(dir, widened,
      expectedSchema = Some(schema))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    if (!isTableDir(dir)) return false
    MutableParquetTable.deleteDir(Paths.get(dir))
    true
  }

  /** SQL `CALL <catalog>.system.<proc>(...)` — table maintenance
    * (history / vacuum / compact / zorder) from pure SQL; see
    * [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(catalogName, root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirFor(oldIdent)
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    val to = dirFor(newIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to))
  }

  // ---- CTAS / RTAS (StagingTableCatalog) ---------------------------
  //
  // `CREATE TABLE g.ns.t USING graft TBLPROPERTIES('key'='id') AS
  // SELECT ...` stages a COMPLETE table root (empty base snapshot + the
  // query's rows committed as v0 through the ordinary V2 write) in a
  // hidden `.ctas-` sibling dir, then publishes it with one rename —
  // readers never see a half-written table, and a failed query leaves
  // only invisible debris (aborted and removed). REPLACE TABLE AS
  // SELECT swaps the staged root in (old dir moved aside first, so a
  // crash leaves the old or the new table, never neither).

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (isTableDir(dirFor(ident))) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!isTableDir(dirFor(ident))) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: JMap[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, replace = true)

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: JMap[String, String], replace: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (keyCols, buckets, checks) = tableSpec(schema, partitions, properties)
    val target = dirFor(ident)
    Files.createDirectories(Paths.get(target).getParent)
    // staged root sits BESIDE the target (same filesystem, same depth)
    // so the publish rename is atomic and reference entries stay valid
    val tmp = s"${Paths.get(target).getParent}/.ctas-${ident.name()}-${
      java.util.UUID.randomUUID().toString.take(8)}"
    MutableParquetTable.commitEmpty(s"$tmp/base", keyCols.head, schema,
      keyCols.tail, buckets, checks)
    new GraftStagedTable(
      GraftSource.tableFor(Map("path" -> tmp)), tmp, target, replace)
  }
}

/** A CTAS/RTAS staging handle: a fully functional graft table living in
  * a hidden dir — the CTAS query's rows commit into it through the
  * ordinary V2 write — published (or discarded) wholesale. */
final class GraftStagedTable(delegate: GraftBatchTable, stagingDir: String,
                             targetDir: String, replace: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graft:staged:$targetDir"
  override def schema(): StructType = delegate.schema
  override def capabilities(): java.util.Set[
    org.apache.spark.sql.connector.catalog.TableCapability] =
    delegate.capabilities()

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    delegate.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    val target = Paths.get(targetDir)
    if (replace && Files.exists(target)) {
      // move the old root aside before the swap: a crash between the two
      // renames leaves the old table recoverable, never a missing table
      val old = Paths.get(s"${target.getParent}/.replaced-${
        java.util.UUID.randomUUID().toString.take(8)}")
      Files.move(target, old)
      try Files.move(Paths.get(stagingDir), target)
      catch { case e: Throwable => Files.move(old, target); throw e }
      MutableParquetTable.deleteDir(old)
    } else {
      Files.move(Paths.get(stagingDir), target)
    }
  }

  override def abortStagedChanges(): Unit = {
    val p = Paths.get(stagingDir)
    if (Files.exists(p)) MutableParquetTable.deleteDir(p)
  }
}
