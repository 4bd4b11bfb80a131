package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.CdcMergeSink

/** Spark SQL data source (`format("graft")`) over the engine's versioned,
  * manifest-committed table layout — the reference's key-sorted-Parquet
  * data model (/root/reference/README.md:11-21) exposed as a first-class
  * Spark relation:
  *
  * {{{
  * spark.read.format("graft").load(root)                       // latest
  * spark.read.format("graft").option("version", 2).load(root)  // time travel
  * sql("CREATE TEMPORARY VIEW t USING graft OPTIONS (path '...')")
  * }}}
  *
  * `path` may be a [[graft.GraftTable]] / [[CdcMergeSink]] root (`base` +
  * `v<id>` snapshots) or a single manifest-committed snapshot directory.
  * Reads are strictly manifest-trusted: only committed files are scanned,
  * so stray part files from crashed writers are invisible (the
  * object-store read discipline of [[MutableParquetTable.readCommitted]]).
  *
  * DataSource V2: the scan this source builds IS Spark's own parquet
  * batch scan (`ParquetScan`) over the manifest's pruned file list, so
  * reads get vectorized columnar batches and whole-stage codegen — no
  * row-at-a-time InternalRow↔Row boundary (the V1 `PrunedFilteredScan`
  * this replaced ended in `.rdd`, which de-columnarized every row).
  * Relation setup reads the schema straight from the manifest (one
  * driver-side JSON read, zero footer probes); only manifest-less `base`
  * snapshots fall back to a single-file footer probe.
  *
  * Filter pushdown, two levels, both advisory (every filter is also
  * returned as residual, so Catalyst re-applies it and pruning can never
  * change results):
  *  - key-column predicates (`=`, `IN`, ranges) prune the manifest's file
  *    list BEFORE any footer or data IO — the zone-map routing of the
  *    merge path (ParquetRewriter.java:263-283) applied to queries;
  *  - all pushed filters are handed to the parquet scan for row-group
  *    stats pruning within the kept files.
  *
  * Scale: the manifest prune is a driver-side metadata operation (one row
  * per file); at 100 TB a key-range query opens the handful of files the
  * range lives in instead of listing and footer-probing the whole table.
  */
final class GraftSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSource.tableFor(options.asScala.toMap).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    GraftSource.tableFor(properties.asScala.toMap)
}

object GraftSource {

  private[sources] def tableFor(parameters: Map[String, String]): GraftBatchTable = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path (load(path) or OPTIONS (path '...'))"))
    val snapshot = resolveSnapshot(path, parameters.get("version"),
      parameters.get("timestampAsOf"))
    val isRoot = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(path, "base"))
    new GraftBatchTable(SparkSession.active, snapshot,
      rootPath = if (isRoot) Some(path) else None,
      options = parameters)
  }

  /** Resolve `path` (+ optional version or timestamp) to one snapshot
    * directory. Table roots resolve through the committed-version chain
    * with [[CdcMergeSink.readAsOf]] semantics; bare directories must be
    * the snapshot themselves. */
  private[sources] def resolveSnapshot(path: String,
                                       version: Option[String],
                                       timestampAsOf: Option[String] = None)
      : String = {
    require(version.isEmpty || timestampAsOf.isEmpty,
      "version and timestampAsOf are mutually exclusive")
    val isRoot = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(path, "base"))
    (isRoot, version, timestampAsOf) match {
      case (true, Some(v), _) =>
        CdcMergeSink.versions(path).takeWhile(_ <= v.toLong).lastOption
          .map(x => s"$path/v$x").getOrElse(s"$path/base")
      case (true, None, Some(ts)) => resolveAsOfTimestamp(path, parseTs(ts))
      case (true, None, None) => CdcMergeSink.latestSnapshot(path)
      case (false, Some(v), _) => throw new IllegalArgumentException(
        s"version=$v given but $path is not a graft table root (no base/)")
      case (false, _, Some(ts)) => throw new IllegalArgumentException(
        s"timestampAsOf=$ts given but $path is not a graft table root (no base/)")
      case (false, None, None) => path
    }
  }

  /** `timestampAsOf` accepts epoch millis or an ISO / `yyyy-MM-dd
    * HH:mm:ss[.f]` local timestamp. */
  private[sources] def parseTs(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else try java.time.Instant.parse(s).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      java.sql.Timestamp.valueOf(s).getTime }

  /** Newest committed snapshot whose commit time is at or before `tsMs`
    * ([[MutableParquetTable.committedAtMs]]); commit times are monotone
    * along the version chain (each version stages strictly after its
    * predecessor committed). A timestamp before the table existed is an
    * error — there is no state to read. */
  private[sources] def resolveAsOfTimestamp(root: String, tsMs: Long): String = {
    val chain = s"$root/base" +:
      CdcMergeSink.versions(root).map(v => s"$root/v$v")
    val at = chain.takeWhile(d =>
      MutableParquetTable.committedAtMs(d).exists(_ <= tsMs)).lastOption
    at.getOrElse(throw new IllegalArgumentException(
      s"timestampAsOf $tsMs predates the table's first commit at " +
        s"${MutableParquetTable.committedAtMs(s"$root/base").getOrElse(-1L)}"))
  }

  /** Files the most recent scan actually planned — test/telemetry hook
    * for asserting manifest pruning. Volatile global rather than
    * thread-local: runtime-filtered scans plan their partitions on AQE
    * stage-materialization threads, not the caller's. */
  @volatile private var lastScan: Seq[String] = Nil
  def lastScanFiles: Seq[String] = lastScan
  private[sources] def recordScan(files: Seq[String]): Unit =
    lastScan = files
}

/** One committed snapshot as a V2 [[Table]]: reads, and — through the
  * version-chain root — V2 batch writes ([[GraftWriteBuilder]]: append
  * = one CoW merge commit). */
final class GraftBatchTable(spark: SparkSession, val snapshotDir: String,
                            val rootPath: Option[String] = None,
                            options: Map[String, String] = Map.empty,
                            // deletion tombstones already subtracted by a
                            // wrapping anti-join ([[graft.plans.GraftTombstoneRule]])
                            private[graft] val tombstonesApplied: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** The snapshot's manifest, read once per relation (None for a bare
    * `base` snapshot — writeSorted output has no manifest). */
  private[sources] val manifest: Option[Manifest] = Manifest.read(snapshotDir)

  /** Deletion-tombstone count this snapshot declares (0 = none). */
  private[graft] val tombstoneRows: Long =
    manifest.map(_.tombstoneRows).getOrElse(0L)

  /** Logical→physical column renames this snapshot declares (empty
    * usually). The advertised schema is LOGICAL; the parquet delegate
    * reads files under the physical names ([[GraftParquetScan.toBatch]]'s
    * positional alias). */
  private[graft] val renames: Map[String, String] =
    manifest.map(_.renames).getOrElse(Map.empty)

  /** This table with the tombstone anti-join marked as applied — what
    * [[graft.plans.GraftTombstoneRule]] substitutes so its rewrite
    * reaches a fixpoint (and the scan-builder guard passes). */
  private[graft] def withTombstonesApplied: GraftBatchTable =
    new GraftBatchTable(spark, snapshotDir, rootPath, options,
      tombstonesApplied = true)

  /** Manifest file list when committed; directory listing for a bare
    * `base` snapshot. */
  private[sources] val allFiles: Seq[String] =
    manifest.map(_.fileNames.map(n =>
        MutableParquetTable.resolvePath(snapshotDir, n)))
      .getOrElse {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(snapshotDir))
        try s.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toList.sorted
        finally s.close()
      }

  // a committed-EMPTY snapshot (CREATE TABLE before the first insert)
  // carries its schema in the manifest and legitimately lists no files
  require(allFiles.nonEmpty || manifest.exists(_.schema.isDefined),
    s"$snapshotDir holds no parquet files")

  /** The table's merge key, from the manifest (None for manifest-less
    * bare snapshots). Public: the SQL DML rule keys its CoW commit on it. */
  val keyName: Option[String] = manifest.map(_.key)

  /** Secondary key columns of a composite-identity table (empty for
    * single-key tables). */
  val moreKeyNames: Seq[String] = manifest.map(_.moreKeys).getOrElse(Nil)

  /** Non-key zone maps ([[MutableParquetTable.attachDimRanges]]): extra
    * columns whose per-file bounds the manifest carries — static and
    * runtime filters on them prune files exactly like the key does. */
  private[sources] lazy val dimRanges
      : Map[String, Seq[MutableParquetTable.DimRange]] =
    manifest.map(_.dims(snapshotDir)).getOrElse(Map.empty)

  /** Bucket count of a hash-bucketed layout ([[GraftBucket]]) — drives
    * the scan's reported KeyGroupedPartitioning (storage-partitioned
    * joins). */
  private[sources] val bucketSpec: Option[Int] = manifest.flatMap(_.buckets)

  /** Per-file row counts from the manifest's ranged entries (resolved
    * paths) — the scan's planner-statistics source. */
  private[sources] lazy val fileRowCounts: Map[String, Long] =
    keyRanges.getOrElse(Nil).map(r => r.file -> r.rowCount).toMap

  /** The manifest's typed key zone map (resolved files), when ranged. */
  private[sources] lazy val keyRanges: Option[Seq[ParquetStats.FileKeyRange]] =
    manifest.flatMap(_.ranges(snapshotDir))

  override def name(): String = s"graft:$snapshotDir"

  /** `option("changeFeed", "true")`: this relation is the table's
    * CHANGE-DATA FEED ([[GraftChangeFeed]]) — batch + micro-batch reads
    * of the persisted per-version row diffs, read-only. Option keys
    * arrive lowercased via `inferSchema` (CaseInsensitiveStringMap) but
    * original-case via `getTable` — normalize once. */
  private val lcOptions: Map[String, String] =
    options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  private[graft] val feedMode: Boolean =
    lcOptions.get("changefeed").exists(_.equalsIgnoreCase("true"))

  /** Case-insensitive reader option (for the scan's streaming path). */
  private[sources] def stringOption(n: String): Option[String] =
    lcOptions.get(n.toLowerCase(java.util.Locale.ROOT))

  private def longOpt(name: String): Option[Long] =
    lcOptions.get(name.toLowerCase(java.util.Locale.ROOT)).map(_.toLong)

  /** Manifest-embedded schema when present (zero IO beyond the manifest
    * itself); single-file footer probe otherwise — never a probe of the
    * whole file list. */
  private val tableSchema: StructType =
    manifest.flatMap(_.schema)
      .getOrElse(spark.read.parquet(allFiles.head).schema)

  override val schema: StructType =
    if (feedMode)
      GraftChangeFeed.feedSchema(tableSchema, keyName.getOrElse(
        throw new IllegalArgumentException(
          s"$snapshotDir has no manifest key — change feeds need a " +
            "keyed graft table")) +: moreKeyNames)
    else tableSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  /** SQL `TRUNCATE TABLE`: an empty-content replace committed as the
    * next version — prior versions stay readable (time travel is the
    * undo), vacuum reclaims them. */
  override def truncateTable(): Boolean = {
    val root = rootPath.getOrElse(throw new UnsupportedOperationException(
      s"$snapshotDir is a bare snapshot, not a versioned table root — " +
        "TRUNCATE needs the version chain"))
    val key = keyName.getOrElse(throw new IllegalStateException(
      s"$snapshotDir has no manifest key"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    graft.GraftTable(spark, root, key).replace(empty)
    true
  }

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap)
      : ScanBuilder =
    if (feedMode) {
      // version bounds may arrive as TABLE options (path reads) or as
      // per-read SCAN options (`spark.read.option(...).table("..t.changes")`
      // — the catalog metadata table carries no bounds of its own);
      // scan options win
      def so(n: String): Option[Long] =
        Option(scanOptions.get(n)).map(_.toLong)
      def sos(n: String): Option[String] =
        Option(scanOptions.get(n)).orElse(
          lcOptions.get(n.toLowerCase(java.util.Locale.ROOT)))
      val root = rootPath.getOrElse(throw new IllegalArgumentException(
        s"$snapshotDir is a bare snapshot, not a versioned table root " +
          "— change feeds live under the root's _changes/"))
      // `startingTimestamp`: changes committed at or after the wall
      // clock; if every version predates it, start past the head (a
      // stream then emits only future commits, a batch reads nothing)
      val startFromTs = sos("startingTimestamp").map { ts =>
        GraftChangeFeed.versionAtOrAfter(root, GraftSource.parseTs(ts))
          .getOrElse(CdcMergeSink.versions(root).lastOption
            .getOrElse(-1L) + 1)
      }
      new GraftChangeFeedScanBuilder(spark, root,
        schema, so("startingVersion").orElse(longOpt("startingVersion"))
          .orElse(startFromTs),
        so("endingVersion").orElse(longOpt("endingVersion")),
        so("maxVersionsPerTrigger").map(_.toInt)
          .orElse(longOpt("maxVersionsPerTrigger").map(_.toInt)))
    } else {
      // forward-compat guard: refuse manifests requiring features this
      // reader does not implement (fail fast beats silently wrong rows)
      MutableParquetTable.requireFeaturesSupported(snapshotDir)
      // HARD correctness guard: a tombstoned snapshot may only be
      // scanned through the injected anti-join — without the extension
      // the raw scan would RESURRECT deleted rows silently
      if (tombstoneRows > 0 && !tombstonesApplied)
        throw new IllegalStateException(
          s"$snapshotDir carries $tombstoneRows deletion tombstones — " +
            "reads require graft.plans.GraftExtensions " +
            "(spark.sql.extensions) so the tombstone anti-join is " +
            "injected, or materialize them first " +
            "(GraftTable.materializeTombstones / CALL " +
            "<catalog>.system.materialize_tombstones)")
      new GraftScanBuilder(spark, this)
    }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (feedMode) throw new UnsupportedOperationException(
      "a change-feed relation (changeFeed=true) is read-only")
    new GraftWriteBuilder(spark, this, info)
  }
}

/** Scan builder: collects pushed filters + required columns, then builds
  * Spark's own `ParquetScan` over the manifest-pruned file list. */
final class GraftScanBuilder(spark: SparkSession, table: GraftBatchTable)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = table.schema
  private var filters: Array[Filter] = Array.empty

  /** Every filter is both recorded (for pruning) and returned as residual
    * (Catalyst re-applies it above the scan), so pruning stays purely an
    * optimization. */
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs
  }

  override def pushedFilters(): Array[Filter] = filters

  override def pruneColumns(s: StructType): Unit = required = s

  private var pushedAgg: Option[(Seq[Any], StructType)] = None

  /** Metadata answers for an unfiltered, ungrouped aggregation — the
    * queries a table format owes its users for free:
    *  - `COUNT(*)`: the manifest's row inventory (requires every listed
    *    file to carry a ranged entry, else the count is partial);
    *  - `MIN(key)` / `MAX(key)`: the manifest zone map's global bounds.
    *    The manifest stores keys NORMALIZED (epoch days / epoch micros /
    *    raw strings / raw bytes) — exactly Spark's internal forms, so the
    *    values convert by width alone. MIN/MAX requires EVERY listed file
    *    to carry a ranged entry, same as COUNT: a stat-less entry is not
    *    only the all-null-keys case — parquet-mr also omits footer min/max
    *    when stat values exceed its size cap (~4KB binaries), and such a
    *    file can hold real extreme keys the zone map never saw.
    * Any filter, group-by, other aggregate, non-key column, or missing
    * metadata declines the pushdown and the ordinary scan runs. */
  private def metadataAnswer(agg: Aggregation): Option[(Seq[Any], StructType)] = {
    if (filters.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    // deletion tombstones: the manifest inventory counts PHYSICAL rows
    // and the zone-map bounds may be tombstoned keys — decline, the
    // scan + anti-join computes the logical answer
    if (table.tombstoneRows > 0) return None
    lazy val count = table.manifest.flatMap(_.exactRowCount)
    lazy val ranges = table.keyRanges.filter(rs =>
      rs.nonEmpty && table.allFiles.size == rs.size)
    def keyField: Option[StructField] =
      table.keyName.map(k => table.schema(k))
    def keyRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference =>
          f.fieldNames.length == 1 && table.keyName.contains(f.fieldNames.head)
        case _ => false
      }
    // manifest bound → Spark INTERNAL value of the key's Catalyst type
    def internal(v: Any): Any = (v, keyField.map(_.dataType).orNull) match {
      case (l: java.lang.Long, LongType)      => l
      case (l: java.lang.Long, IntegerType)   => java.lang.Integer.valueOf(l.toInt)
      case (l: java.lang.Long, ShortType)     => java.lang.Short.valueOf(l.toShort)
      case (l: java.lang.Long, ByteType)      => java.lang.Byte.valueOf(l.toByte)
      case (l: java.lang.Long, DateType)      => java.lang.Integer.valueOf(l.toInt)
      case (l: java.lang.Long, TimestampType) => l
      case (l: java.lang.Long, TimestampNTZType) => l
      case (s: String, StringType) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case (b: Array[Byte], BinaryType) => b
      case _ => return null // unexpected pairing — caller declines
    }
    val resolved = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        count.map(n => (n: Any, StructField("count", LongType, nullable = false)))
      case m: Min if keyRef(m.column) =>
        ranges.map(rs => (internal(rs.minBy(_.minBytes)(KeyBytes.ordering).min),
          keyField.get.copy(name = "min")))
      case m: Max if keyRef(m.column) =>
        ranges.map(rs => (internal(rs.maxBy(_.maxBytes)(KeyBytes.ordering).max),
          keyField.get.copy(name = "max")))
      case _ => None
    }
    if (resolved.exists(r => r.isEmpty || r.get._1 == null)) None
    else Some((resolved.map(_.get._1),
      StructType(resolved.zipWithIndex.map { case (r, i) =>
        r.get._2.copy(name = s"${r.get._2.name}_$i") })))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    metadataAnswer(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    metadataAnswer(agg) match {
      case Some((values, schema)) =>
        pushedAgg = Some((values, schema))
        required = schema
        true
      case None => false
    }

  // ---- LIMIT / ORDER-BY-key LIMIT (top-k) file pruning --------------
  //
  // The layout invariant makes top-k a metadata question: committed
  // files are key-sorted with per-file [min,max] + row counts in the
  // manifest, so `ORDER BY key LIMIT k` needs only the files at the low
  // (or high) end of the key space holding >= k rows — ONE file for any
  // point-of-time "first/latest k" query at any table size. Both
  // pushdowns are PARTIAL (Spark keeps its Sort/Limit above the scan),
  // so pruning is purely an optimization: the kept files provably
  // contain the true top-k rows.
  //
  // Declines (ordinary scan runs):
  //  - pushed data filters (file row counts would overcount survivors,
  //    so a prefix-by-count prune could under-deliver);
  //  - deletion tombstones (physical counts exceed logical rows);
  //  - any listed file without a ranged manifest entry (its keys are
  //    invisible to the zone map);
  //  - for top-k only: any file with a nonzero (or unrecorded) null-key
  //    count in the manifest — null keys are invisible to min/max
  //    bounds, so they both inflate row counts and (NULLS FIRST) belong
  //    at the very front of the sort from ANY file.

  private var limitFiles: Option[Seq[String]] = None
  private var limitDesc: String = ""

  /** Ranged entries covering EVERY listed file, when limit-style pruning
    * is sound for this scan. */
  private def prunableRanges: Option[Seq[ParquetStats.FileKeyRange]] = {
    if (filters.nonEmpty || table.tombstoneRows > 0) return None
    for {
      m <- table.manifest
      ranges <- table.keyRanges
        if ranges.size == m.files.size && m.files.nonEmpty
    } yield ranges
  }

  override def pushLimit(limit: Int): Boolean =
    prunableRanges.exists { ranges =>
      // order-free limit: ANY >= limit rows satisfy it — take the
      // manifest-order prefix
      var cum = 0L
      val taken = ranges.takeWhile { r =>
        val need = cum < limit; cum += r.rowCount; need
      }
      limitFiles = Some(taken.map(_.file))
      limitDesc = s" PushedLimit: $limit (${taken.size}/${ranges.size} files)"
      true
    }

  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    // only the LEADING sort column gates the prune: the k-th row under
    // (key, tiebreakers...) has key <= the k-th key under (key) alone, so
    // the same bound T covers every row any tiebreaker could promote —
    // extra orders ride along free (Spark re-sorts the kept rows anyway)
    if (orders.isEmpty) return false
    val onKey = orders.head.expression() match {
      case f: NamedReference =>
        f.fieldNames.length == 1 && table.keyName.contains(f.fieldNames.head)
      case _ => false
    }
    if (!onKey) return false
    val asc = orders.head.direction() == SortDirection.ASCENDING
    prunableRanges.filter(_.forall(_.nullKeys == 0)).exists { ranges =>
      // walk files from the sort's end of the keyspace until the taken
      // files hold >= limit rows; the k-th row's key is then bounded by
      // the worst taken bound T, and (overlapped layouts) any OTHER file
      // whose range crosses T could also hold qualifying rows — include
      // those too. On a disjoint layout the T-sweep adds nothing.
      val sorted =
        if (asc) ranges.sortWith((a, b) =>
          KeyBytes.compare(a.minBytes, b.minBytes) < 0)
        else ranges.sortWith((a, b) =>
          KeyBytes.compare(a.maxBytes, b.maxBytes) > 0)
      var cum = 0L
      val taken = sorted.takeWhile { r =>
        val need = cum < limit; cum += r.rowCount; need
      }
      val keep: Set[String] =
        if (taken.size == sorted.size) sorted.map(_.file).toSet
        else if (asc) {
          val t = taken.map(_.maxBytes).reduce((a, b) =>
            if (KeyBytes.compare(a, b) >= 0) a else b)
          sorted.collect {
            case r if KeyBytes.compare(r.minBytes, t) <= 0 => r.file
          }.toSet
        } else {
          val t = taken.map(_.minBytes).reduce((a, b) =>
            if (KeyBytes.compare(a, b) <= 0) a else b)
          sorted.collect {
            case r if KeyBytes.compare(r.maxBytes, t) >= 0 => r.file
          }.toSet
        }
      limitFiles = Some(ranges.map(_.file).filter(keep))
      limitDesc = s" PushedTopN: ${if (asc) "ASC" else "DESC"} LIMIT $limit " +
        s"(${keep.size}/${ranges.size} files)"
      true
    }
  }

  /** Both pushdowns keep Spark's Sort/Limit above the scan. */
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = pushedAgg match {
    case Some((values, schema)) =>
      GraftSource.recordScan(Nil) // metadata-only: no file is planned
      new GraftMetadataScan(values.toArray, schema)
    case None =>
      val envPruned = table.keyName.flatMap { k =>
        val (lo, hi) = GraftScanBuilder.keyBounds(k, filters)
        if (lo.isEmpty && hi.isEmpty) None
        else table.manifest.map(m =>
          MutableParquetTable.pruneFiles(m, table.snapshotDir, lo, hi)._2)
      }.getOrElse(table.allFiles)
      // exact POINT-SET prune for a static `IN` on the key: the envelope
      // above collapses a scattered IN set to [min, max] — which spans
      // the keyspace and prunes nothing (an IVF probe's cell ids, a
      // dimension lookup's scattered keys). The point prune keeps only
      // files whose [min, max] holds at least one listed value — the
      // same prune the RUNTIME filter path applies, now at plan time
      val keyPruned = table.keyName match {
        case Some(k) =>
          filters.collect {
            case In(c, vs) if c == k && vs.nonEmpty && !vs.contains(null) =>
              vs.toSeq
          }.foldLeft(envPruned) { (fs, vs) =>
            MutableParquetTable
              .pruneManifestFilesPoints(table.snapshotDir, vs)
              .map(_._2.toSet).map(keep => fs.filter(keep)).getOrElse(fs)
          }
        case None => envPruned
      }
      // static pruning on NON-KEY zone-mapped dims: intersect each dim's
      // surviving files; files without a dim entry are never pruned
      val files = table.dimRanges.foldLeft(keyPruned) {
        case (fs, (dcol, ranges)) =>
          val ranged = ranges.map(_.file).toSet
          val (lo, hi) = GraftScanBuilder.keyBounds(dcol, filters)
          val envPass =
            if (lo.isEmpty && hi.isEmpty) fs
            else {
              val loB = lo.map(KeyBytes.fromAny)
              val hiB = hi.map(KeyBytes.fromAny)
              val keep = ranges.collect {
                case r if hiB.forall(h => KeyBytes.compare(r.minBytes, h) <= 0) &&
                          loB.forall(l => KeyBytes.compare(r.maxBytes, l) >= 0) =>
                  r.file
              }.toSet
              fs.filter(f => !ranged(f) || keep(f))
            }
          // a scattered static IN on the dim gets the same point-set
          // prune as the key (its envelope spans the dim space)
          filters.collect {
            case In(c, vs) if c == dcol && vs.nonEmpty && !vs.contains(null) =>
              vs.toSeq
          }.foldLeft(envPass) { (acc, vs) =>
            val pts = vs.map(KeyBytes.fromAny).sorted(KeyBytes.ordering).toArray
            def anyIn(mnB: Array[Byte], mxB: Array[Byte]): Boolean = {
              var l = 0; var h = pts.length - 1; var ans = -1
              while (l <= h) {
                val mid = (l + h) >>> 1
                if (KeyBytes.compare(pts(mid), mnB) >= 0) { ans = mid; h = mid - 1 }
                else l = mid + 1
              }
              ans >= 0 && KeyBytes.compare(pts(ans), mxB) <= 0
            }
            val keep = ranges.collect {
              case r if anyIn(r.minBytes, r.maxBytes) => r.file
            }.toSet
            acc.filter(f => !ranged(f) || keep(f))
          }
      }
      val limited = limitFiles match {
        case Some(lf) => val s = lf.toSet; files.filter(s)
        case None => files
      }
      new GraftParquetScan(spark, table, required, filters, limited, limitDesc)
  }
}

/** The data scan: Spark's own vectorized `ParquetScan` over the
  * manifest-pruned file list, plus RUNTIME file pruning — the
  * dynamic-partition-pruning analog for a key-sorted layout. When this
  * scan sits under a join on the table's key, Spark evaluates the other
  * side first (reusing its broadcast) and hands the resulting key
  * predicates to [[filter]]; IN-sets prune per value through the manifest
  * zone map, so a star join reads only the fact files whose key ranges
  * hold matching keys — decided from metadata, before any data IO. */
final class GraftParquetScan(spark: SparkSession,
                             private val table: GraftBatchTable,
                             private val required: StructType,
                             private val pushed: Array[Filter],
                             private val staticFiles: Seq[String],
                             private val limitDesc: String = "")
    extends Scan with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private var plannedFiles: Seq[String] = staticFiles

  private def baseName(f: String): String =
    f.substring(f.lastIndexOf('/') + 1)

  /** (bucket id per STATICALLY planned file), when this snapshot is a
    * bucketed layout and every such file carries a bucket name. Fixed at
    * scan build time: the reported partitioning is a CONTRACT — runtime
    * filtering may empty a bucket's file set, but its partition must
    * still be emitted ([[GraftBucketedBatch]] backfills empties), or
    * Spark's SPJ exec errors on the partition-count change. */
  private val bucketByFile: Option[Map[String, Int]] =
    table.bucketSpec.filter(_ => table.keyName.isDefined).flatMap { _ =>
      val parsed = staticFiles.map(f =>
        GraftBucket.bucketOfName(baseName(f)).map(f -> _))
      if (parsed.nonEmpty && parsed.forall(_.isDefined))
        Some(parsed.flatten.toMap)
      else None
    }

  /** STORAGE-PARTITIONED JOINS: a bucketed snapshot reports
    * `KeyGroupedPartitioning(bucket(n, key))` with one input partition
    * per populated bucket ([[GraftBucketedBatch]]). Two graft tables
    * sharing a bucket spec joined on their key then skip BOTH shuffle
    * exchanges — Spark verifies the transform via [[GraftCatalog]]'s
    * function catalog (`spark.sql.sources.v2.bucketing.enabled` must be
    * on, and the table must be catalog-addressed: path reads have no
    * function catalog to resolve `bucket` against, and fall back to
    * ordinary shuffled joins). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketByFile match {
      case Some(byFile) if byFile.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(table.bucketSpec.get, table.keyName.get)),
          byFile.values.toSet.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Planner statistics from metadata alone: without them a V2 relation
    * costs `defaultSizeInBytes` (effectively infinite), so a join against
    * even a tiny — or tightly key-pruned — graft table would NEVER
    * auto-broadcast and every such join would shuffle both sides. Bytes
    * are the PRUNED file list's physical sizes scaled by
    * `spark.sql.sources.fileCompressionFactor` (the FileScan convention);
    * rows come from the manifest inventory when every surviving file has
    * a ranged entry and no data filter was pushed (a filtered scan's row
    * count is unknowable from metadata — report none rather than an
    * overestimate the planner would trust). Driver-side size probes are
    * metadata-priced; an object-store deployment would persist sizes in
    * the manifest instead. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // manifest-recorded sizes first (zero filesystem calls — at scale a
    // per-file stat sweep per planning is the object-store anti-pattern);
    // pre-recording entries fall back to one stat each
    val recorded = table.manifest.map(_.bytesByName).getOrElse(Map.empty)
    val bytes = plannedFiles.iterator.map { f =>
      recorded.get(f.split('/').last).getOrElse {
        val p = java.nio.file.Paths.get(f)
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
      }
    }.sum
    val scaled =
      (bytes * spark.sessionState.conf.fileCompressionFactor).toLong
    val rowCounts = plannedFiles.map(table.fileRowCounts.get)
    val rows =
      if (plannedFiles.isEmpty) java.util.OptionalLong.of(0L)
      // tombstones make the manifest inventory an overcount — report none
      else if (pushed.isEmpty && table.tombstoneRows == 0 &&
          rowCounts.forall(_.isDefined))
        java.util.OptionalLong.of(rowCounts.flatten.sum)
      else java.util.OptionalLong.empty()
    // KEY-COLUMN statistics for the cost-based optimizer, from metadata
    // alone: the key is the table's IDENTITY, so distinctCount is EXACT
    // (non-null rows — no NDV sketch could do better), null counts come
    // from the manifest's per-file nullKeys, and min/max are the zone
    // map's global bounds over the PLANNED files (numeric/date/time keys
    // only — their internal form is unambiguous). With CBO on, a join on
    // the key estimates its true cardinality instead of guessing.
    // Same honesty rules as numRows: decline under pushed filters,
    // tombstones, or unranged/unknown-null files.
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // manifest bounds are NORMALIZED longs; CBO expects the column's
      // Catalyst-internal form (Integer for date/int, etc.) — anything
      // representation-unsafe (string/binary) declines to null
      def internalOf(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
        (v, dt) match {
          case (l: java.lang.Long,
              LongType | TimestampType | TimestampNTZType) => l
          case (l: java.lang.Long, IntegerType | DateType) =>
            java.lang.Integer.valueOf(l.toInt)
          case (l: java.lang.Long, ShortType) =>
            java.lang.Short.valueOf(l.toShort)
          case (l: java.lang.Long, ByteType) =>
            java.lang.Byte.valueOf(l.toByte)
          case _ => null
        }
      def put(colName: String, distinct: Option[Long], nulls: Option[Long],
              bounds: Option[(Any, Any)]): Unit =
        m.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(colName),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              distinct.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def nullCount(): java.util.OptionalLong =
              nulls.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              bounds.map(n => java.util.Optional.of(n._1.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              bounds.map(n => java.util.Optional.of(n._2.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty[Object]())
          })
      if (rows.isPresent && plannedFiles.nonEmpty) {
        for {
          key <- table.keyName if required.fieldNames.contains(key)
          all <- table.keyRanges
        } {
          val planned = plannedFiles.toSet
          val ranges = all.filter(r => planned(r.file))
          if (ranges.size == plannedFiles.size &&
              ranges.forall(_.nullKeys >= 0)) {
            val nulls = ranges.map(_.nullKeys).sum
            val distinct = rows.getAsLong - nulls
            val minV = ranges.minBy(_.minBytes)(KeyBytes.ordering).min
            val maxV = ranges.maxBy(_.maxBytes)(KeyBytes.ordering).max
            val numeric: Option[(Any, Any)] = {
              val dt = table.schema(key).dataType
              (internalOf(minV, dt), internalOf(maxV, dt)) match {
                case (null, _) | (_, null) => None
                case (a, b) => Some((a, b))
              }
            }
            put(key, Some(distinct), Some(nulls), numeric)
          }
        }
      }
      // DIM-COLUMN bounds (round 8): the manifest's non-key zone maps
      // already hold per-file min/max for attached dim columns — serve
      // the global envelope over the PLANNED files, so a range filter or
      // star join on a tracked dim estimates selectivity from metadata
      // the table carries anyway. Bounds stay TRUE under pushed filters
      // (a superset envelope), so they are served even when row counts
      // decline; distinct/null counts are NOT known for dims (entries
      // hold bounds only) — left empty rather than guessed. Decline when
      // any planned file lacks an entry (its bounds are unknown) or the
      // entry type is string/binary (the key path's
      // representation-honesty rule). Dim entries are recorded under
      // LOGICAL names, matching the relation's attributes.
      if (plannedFiles.nonEmpty) {
        val planned = plannedFiles.toSet
        table.manifest.map(_.dimRanges).getOrElse(Nil)
          .groupBy(_.column).foreach { case (dcol, es) =>
            val isStatColumn = required.fieldNames.contains(dcol) &&
              !table.keyName.contains(dcol) &&
              table.schema.fieldNames.contains(dcol)
            if (isStatColumn) {
              val mine = es.filter(e => planned(
                MutableParquetTable.resolvePath(table.snapshotDir, e.file)))
              if (mine.size == planned.size &&
                  mine.forall(_.dtype == "long")) {
                val dt = table.schema(dcol).dataType
                val lo = internalOf(
                  java.lang.Long.valueOf(mine.map(_.min.toLong).min), dt)
                val hi = internalOf(
                  java.lang.Long.valueOf(mine.map(_.max.toLong).max), dt)
                if (lo != null && hi != null)
                  put(dcol, None, None, Some((lo, hi)))
              }
            }
          }
      }
      m
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  override def readSchema(): StructType = required

  /** LATEST-STATE streaming source ([[GraftStateStream]]): batch 1 = the
    * current snapshot, later batches = post-image rows of subsequent
    * commits' change feeds — the Delta streaming-source analog. The
    * row-level diff form is the change feed
    * (`option("changeFeed", "true")`). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val root = table.rootPath.getOrElse(throw new IllegalArgumentException(
      s"${table.snapshotDir} is a bare snapshot, not a versioned table " +
        "root — state streaming needs the version chain"))
    val key = table.keyName.getOrElse(throw new IllegalArgumentException(
      s"${table.snapshotDir} has no manifest key — state streaming " +
        "reconstructs rows from keyed change feeds"))
    if (table.tombstoneRows > 0)
      throw new IllegalStateException(
        s"${table.snapshotDir} carries deletion tombstones — materialize " +
          "them first (CALL <catalog>.system.materialize_tombstones); " +
          "an append stream cannot subtract rows")
    new GraftStateStream(spark, root, table.schema, required,
      key +: table.moreKeyNames,
      ignoreDeletes = table.stringOption("ignoredeletes")
        .exists(_.equalsIgnoreCase("true")),
      maxFilesPerTrigger =
        table.stringOption("maxfilespertrigger").map(_.toInt),
      maxVersionsPerTrigger =
        table.stringOption("maxversionspertrigger").map(_.toInt),
      maxBytesPerTrigger =
        table.stringOption("maxbytespertrigger").map(_.toLong),
      startingVersion = table.stringOption("startingversion").map {
        // "latest": changes committed AFTER stream start only
        case s if s.equalsIgnoreCase("latest") =>
          graft.streaming.CdcMergeSink.versions(root).lastOption
            .getOrElse(-1L) + 1
        case s =>
          val v = s.toLong
          require(v >= 0, s"startingVersion must be >= 0 (got $v)")
          v
      })
  }

  override def description(): String =
    s"GraftParquetScan(${table.snapshotDir}) " +
      s"PushedFilters: [${pushed.mkString(", ")}]" + limitDesc

  // value equality over the scan's defining inputs (runtime state
  // excluded, matching ParquetScan's own convention): identical scans
  // canonicalize equal, so AQE can reuse exchanges/subqueries over the
  // same snapshot instead of re-planning per reference
  override def equals(o: Any): Boolean = o match {
    case g: GraftParquetScan =>
      g.table.snapshotDir == table.snapshotDir && g.required == required &&
        g.pushed.sameElements(pushed) && g.staticFiles == staticFiles
    case _ => false
  }
  override def hashCode(): Int =
    (table.snapshotDir, required, staticFiles).hashCode

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns this scan actually outputs: Spark resolves these refs
    // against the PRUNED read schema, so advertising a zone-mapped column
    // a projection dropped would fail analysis (runtime filters on it
    // can't arrive anyway — the join would have to read the column)
    val have = required.fieldNames.toSet
    (table.keyName.toSeq ++ table.dimRanges.keys).distinct
      .filter(have).toArray.map(
        org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  /** Files whose [min, max] for `dcol` contains at least one of `values`
    * — plus every file without an entry for that dim. */
  private def dimPointPrune(dcol: String, values: Seq[Any]): Seq[String] = {
    val ranges = table.dimRanges(dcol)
    val pts = values.map(KeyBytes.fromAny).sorted(KeyBytes.ordering).toArray
    def anyIn(mnB: Array[Byte], mxB: Array[Byte]): Boolean = {
      var lo = 0; var hi = pts.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (KeyBytes.compare(pts(mid), mnB) >= 0) { ans = mid; hi = mid - 1 }
        else lo = mid + 1
      }
      ans >= 0 && KeyBytes.compare(pts(ans), mxB) <= 0
    }
    val ranged = ranges.map(_.file).toSet
    val keep = ranges.collect {
      case r if anyIn(r.minBytes, r.maxBytes) => r.file
    }.toSet
    staticFiles.filter(f => !ranged(f) || keep(f))
  }

  override def filter(runtime: Array[Filter]): Unit = {
    val key = table.keyName
    val perValue = runtime.flatMap {
      case In(c, vs) if key.contains(c) && vs.nonEmpty && !vs.contains(null) =>
        // point-set prune beats one [min,max] envelope when the join
        // keys are scattered across the keyspace; ONE manifest parse
        // for the whole set (not one per key)
        Some(MutableParquetTable.pruneManifestFilesPoints(
          table.snapshotDir, vs.toSeq).map(_._2).getOrElse(staticFiles))
      case EqualTo(c, v) if key.contains(c) && v != null =>
        Some(MutableParquetTable.pruneManifestFilesPoints(
          table.snapshotDir, Seq(v)).map(_._2).getOrElse(staticFiles))
      case In(c, vs)
          if table.dimRanges.contains(c) && vs.nonEmpty && !vs.contains(null) =>
        Some(dimPointPrune(c, vs.toSeq))
      case EqualTo(c, v) if table.dimRanges.contains(c) && v != null =>
        Some(dimPointPrune(c, Seq(v)))
      case _ => None
    }
    plannedFiles =
      if (perValue.isEmpty) staticFiles
      else {
        val keep = perValue.map(_.toSet).reduce(_ intersect _)
        staticFiles.filter(keep)
      }
  }

  override def toBatch: Batch = {
    GraftSource.recordScan(plannedFiles)
    // an un-bucketed scan with nothing left to read short-circuits; a
    // bucketed scan must still emit its plan-time partitions (empty) to
    // honor the reported KeyGroupedPartitioning under runtime filtering
    if (plannedFiles.isEmpty && bucketByFile.isEmpty)
      return new Batch {
        override def planInputPartitions(): Array[InputPartition] = Array.empty
        override def createReaderFactory(): PartitionReaderFactory =
          new GraftMetadataReaderFactory
      }
    // renamed columns: the files carry PHYSICAL names, so the parquet
    // delegate gets the physical form of both schemas — SAME positions
    // and types, names swapped. V2 scan output binds to the relation's
    // attributes POSITIONALLY, so the logical readSchema() above and the
    // physical reader line up column-for-column. Pushed filters naming a
    // renamed column are dropped from the delegate (every filter is
    // returned as residual, so Catalyst re-applies it above the scan —
    // the drop only costs row-group skipping on that column).
    val physData =
      MutableParquetTable.physicalSchemaOf(table.schema, table.renames)
    val physRequired =
      MutableParquetTable.physicalSchemaOf(required, table.renames)
    val physPushed =
      if (table.renames.isEmpty) pushed
      else pushed.filterNot(_.references.exists(table.renames.contains))
    val index = new InMemoryFileIndex(spark, plannedFiles.map(new Path(_)),
      Map.empty[String, String], Some(physData),
      FileStatusCache.getOrCreate(spark), None, None)
    val delegate = ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
      dataSchema = physData, readDataSchema = physRequired,
      readPartitionSchema = new StructType(), pushedFilters = physPushed,
      options = CaseInsensitiveStringMap.empty()).toBatch
    bucketByFile match {
      case Some(byFile) => new GraftBucketedBatch(delegate,
        byFile.map { case (f, b) => baseName(f) -> b },
        byFile.values.toSet)
      case None => delegate
    }
  }
}

/** Bucketed re-grouping of Spark's parquet batch: all of a bucket's file
  * splits fold into ONE input partition carrying the bucket id as its
  * partition key ([[org.apache.spark.sql.connector.read.HasPartitionKey]])
  * — the physical contract behind the scan's KeyGroupedPartitioning.
  * Readers delegate to the parquet factory unchanged (columnar batches,
  * codegen). */
final class GraftBucketedBatch(delegate: Batch,
                               bucketOfBase: Map[String, Int],
                               allBuckets: Set[Int]) extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val files = delegate.planInputPartitions().flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files
      case other => throw new IllegalStateException(
        s"unexpected parquet partition type: ${other.getClass}")
    }
    val byBucket = files.groupBy { pf =>
      val p = pf.filePath.toString
      bucketOfBase(p.substring(p.lastIndexOf('/') + 1))
    }
    // every plan-time bucket emits a partition — runtime file pruning
    // may leave one EMPTY, but the reported partitioning stays intact
    allBuckets.toSeq.sorted.zipWithIndex.map { case (b, i) =>
      GraftBucketPartition(
        org.apache.spark.sql.execution.datasources.FilePartition(i,
          byBucket.getOrElse(b,
            Array.empty[org.apache.spark.sql.execution.datasources.PartitionedFile])),
        b)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftBucketReaderFactory(delegate.createReaderFactory())
}

final case class GraftBucketPartition(
    inner: org.apache.spark.sql.execution.datasources.FilePartition,
    bucket: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

final class GraftBucketReaderFactory(delegate: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[GraftBucketPartition].inner
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}

/** Completely-pushed metadata aggregation: one partition emitting one row
  * of precomputed internal values (counts / zone-map bounds). */
final class GraftMetadataScan(values: Array[Any], schema: StructType)
    extends Scan with Batch with Serializable {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMetadataScan(${values.mkString(", ")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftMetadataPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMetadataReaderFactory
}

final case class GraftMetadataPartition(values: Array[Any])
    extends InputPartition

final class GraftMetadataReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftMetadataPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(gp.values)
      override def close(): Unit = ()
    }
  }
}

private object GraftScanBuilder {

  /** Conjunctive key bounds implied by the pushed filters: [lo, hi] such
    * that every surviving row's key lies within. Non-key / untranslatable
    * filters contribute nothing (Spark re-applies them anyway). Null
    * comparison values are skipped defensively — Catalyst folds such
    * predicates away, but `KeyBytes.fromAny(null)` would throw at
    * planning time if one ever arrived. */
  def keyBounds(key: String,
                filters: Array[Filter]): (Option[Any], Option[Any]) = {
    var lo: Option[Any] = None
    var hi: Option[Any] = None
    def tightenLo(v: Any): Unit = if (v != null)
      lo = Some(lo.filter(l => KeyBytes.compare(
        KeyBytes.fromAny(l), KeyBytes.fromAny(v)) >= 0).getOrElse(v))
    def tightenHi(v: Any): Unit = if (v != null)
      hi = Some(hi.filter(h => KeyBytes.compare(
        KeyBytes.fromAny(h), KeyBytes.fromAny(v)) <= 0).getOrElse(v))
    def walk(f: Filter): Unit = f match {
      case EqualTo(`key`, v)            => tightenLo(v); tightenHi(v)
      case GreaterThan(`key`, v)        => tightenLo(v)
      case GreaterThanOrEqual(`key`, v) => tightenLo(v)
      case LessThan(`key`, v)           => tightenHi(v)
      case LessThanOrEqual(`key`, v)    => tightenHi(v)
      case In(`key`, vs) if vs.nonEmpty && !vs.contains(null) =>
        val sorted = vs.sortWith((a, b) =>
          KeyBytes.compare(KeyBytes.fromAny(a), KeyBytes.fromAny(b)) < 0)
        tightenLo(sorted.head); tightenHi(sorted.last)
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    filters.foreach(walk)
    (lo, hi)
  }
}
