package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.CdcMergeSink

/** SQL `CALL` table maintenance for [[GraftCatalog]] — Spark 4's V2
  * `ProcedureCatalog` surface, so the lifecycle operations a shared table
  * needs on a schedule are reachable from pure SQL (an orchestrator can
  * drive retention/layout jobs with no Scala handle):
  *
  * {{{
  * CALL g.system.history(table => 'ns.t')              -- version inventory
  * CALL g.system.vacuum(table => 'ns.t', keep_last => 10)
  * CALL g.system.compact(table => 'ns.t', target_mb => 128)
  * CALL g.system.zorder(table => 'ns.t', dims => 'a,b')
  * SHOW PROCEDURES IN g.system
  * }}}
  *
  * Each procedure resolves the table the same way [[GraftCatalog]] does
  * (`'ns.t'` → `<root>/ns/t`), discovers the merge key — including
  * composite `moreKeys` — from the manifest, and returns its report as
  * rows (a [[LocalScan]]; Spark's `InvokeProcedures` turns it into a
  * local relation). Maintenance commits (`compact`, `zorder`) create the
  * NEXT version like any merge commit, so time travel, change-feed
  * consumers, and concurrent readers are never disturbed; `history` and
  * `vacuum` are manifest-only (zero data IO).
  *
  * Reference anchor: the reference leaves maintenance to external
  * drivers of its Java API (ParquetRewriter.java has no command
  * surface); the SQL CALL form is the Spark-native equivalent of its
  * operational scripts. */
object GraftProcedures {

  val Namespace = "system"

  private val names = Seq("history", "vacuum", "compact", "compact_range",
    "zorder", "repair_feed", "materialize_tombstones", "restore", "clone",
    "rebucket", "rebuild_index", "diff_versions",
    "pagerank", "connected_components", "scc")

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array(Namespace)))
      names.map(n => Identifier.of(Array(Namespace), n)).toArray
    else Array.empty

  def load(catalogName: String, root: String,
           ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array(Namespace)),
      s"unknown procedure namespace ${ident.namespace().mkString(".")} — " +
        s"graft procedures live in $catalogName.$Namespace")
    ident.name().toLowerCase match {
      case "history" => new History(root)
      case "vacuum"  => new Vacuum(root)
      case "compact" => new Compact(root)
      case "compact_range" => new CompactRange(root)
      case "zorder"  => new ZOrderProc(root)
      case "repair_feed" => new RepairFeed(root)
      case "materialize_tombstones" => new MaterializeTombstones(root)
      case "restore" => new Restore(root)
      case "clone" => new CloneTable(root)
      case "rebucket" => new Rebucket(root)
      case "rebuild_index" => new RebuildIndex(root)
      case "diff_versions" => new DiffVersions(root)
      case "pagerank" => new PageRankProc(root)
      case "connected_components" => new ConnectedComponentsProc(root)
      case "scc" => new SccProc(root)
      case other => throw new IllegalArgumentException(
        s"unknown procedure $catalogName.$Namespace.$other " +
          s"(have: ${names.mkString(", ")})")
    }
  }

  // ---- shared machinery ----

  /** Self-binding procedure: parameters are fully declared up front, so
    * bind() is identity (the analyzer coerces arguments to the declared
    * types and fills defaults before call()). */
  private abstract class Proc(root: String) extends UnboundProcedure
      with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    def resultSchema: StructType
    def run(spark: SparkSession, input: InternalRow): Seq[InternalRow]
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val out = run(spark, input)
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = resultSchema
        override def rows(): Array[InternalRow] = out.toArray
      }
      Collections.singletonList(scan).iterator()
    }

    /** `'ns.t'` → table root dir, mirroring [[GraftCatalog.dirFor]]. */
    protected def tableDir(input: InternalRow): String = {
      val name = input.getUTF8String(0).toString
      val dir = (root +: name.split('.').toSeq.filter(_.nonEmpty))
        .mkString("/")
      require(Files.isDirectory(Paths.get(dir, "base")),
        s"$name is not a graft table under $root")
      dir
    }

    protected def param(name: String, dt: DataType,
                        default: Option[String] = None,
                        comment: String = ""): ProcedureParameter = {
      var b = ProcedureParameter.in(name, dt)
      default.foreach(d => b = b.defaultValue(d))
      if (comment.nonEmpty) b = b.comment(comment)
      b.build()
    }

    protected def row(vals: Any*): InternalRow =
      new GenericInternalRow(vals.map {
        case s: String => UTF8String.fromString(s)
        case x => x.asInstanceOf[AnyRef]
      }.toArray[Any])

    /** Merge key (leading, secondaries) from the latest manifest. */
    protected def tableKeys(dir: String): (String, Seq[String]) = {
      val latest = CdcMergeSink.latestSnapshot(dir)
      val key = MutableParquetTable.pruneManifestFiles(latest, None, None)
        .map(_._1).getOrElse(throw new IllegalStateException(
          s"$latest has no committed manifest"))
      (key, MutableParquetTable.manifestMoreKeys(latest))
    }
  }

  /** Version inventory from the manifests alone — files/rows/bytes per
    * committed snapshot plus the base. Bytes resolve manifest entries to
    * their physical homes, so reference-passthrough snapshots report the
    * bytes they SHARE, not copies. */
  private final class History(root: String) extends Proc(root) {
    override def name(): String = "history"
    override def description(): String =
      "per-version inventory (files, rows, bytes) from the manifests"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType, comment = "'ns.t' in this catalog"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("snapshot", StringType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("bytes", LongType, nullable = true)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val snaps = (-1L, s"$dir/base") +:
        CdcMergeSink.versions(dir).map(v => (v, s"$dir/v$v"))
      snaps.filter { case (_, d) =>
        MutableParquetTable.manifestFileNames(d).isDefined
      }.map { case (v, d) =>
        val entries = MutableParquetTable.manifestFileNames(d).getOrElse(Nil)
        val bytes = entries.map { e =>
          val p = Paths.get(MutableParquetTable.resolvePath(d, e))
          if (Files.exists(p)) Files.size(p) else 0L
        }.sum
        val rows = MutableParquetTable.manifestExactRowCount(d)
          .orElse(if (entries.isEmpty) Some(0L) else None) // empty snapshot
        row(v, d, entries.size, rows.map(java.lang.Long.valueOf).orNull,
          bytes)
      }
    }
  }

  /** [[graft.GraftTable.diffVersions]] as SQL: the per-key change
    * classification between ANY two versions, summarized to bounded
    * counts (the row-level frame is the Scala API; a procedure result
    * collects, so it stays aggregate-sized). */
  private final class DiffVersions(root: String) extends Proc(root) {
    override def name(): String = "diff_versions"
    override def description(): String =
      "per-key change summary between two versions " +
        "(added/removed/updated/unchanged counts)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("v_old", LongType, comment = "older version (-1 = base)"),
      param("v_new", LongType, comment = "newer version"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("change", StringType, nullable = false),
      StructField("n", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val (key, _) = tableKeys(dir)
      graft.GraftTable(spark, dir, key)
        .diffVersions(input.getLong(1), input.getLong(2))
        .groupBy("change").count()
        .orderBy("change")
        .collect()
        .map(r => row(r.getString(0), r.getLong(1)))
        .toSeq
    }
  }

  /** [[graft.GraftTable.repairFeed]] as SQL: recompute and persist a
    * version's row-level feed — the remedy for a commitWithFeed writer
    * that crashed between its commit and its feed write (a change-feed
    * stream holds its offset at that version until the feed lands).
    * Snapshots are immutable, so the recomputed feed equals what the
    * crashed writer would have written. Idempotent. */
  private final class RepairFeed(root: String) extends Proc(root) {
    override def name(): String = "repair_feed"
    override def description(): String =
      "recompute and persist a version's change feed (crashed-write remedy)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("version", LongType, comment = "committed version to repair"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("feed_rows", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val v = input.getLong(1)
      val (key, _) = tableKeys(dir)
      graft.GraftTable(spark, dir, key).repairFeed(v)
      val n = spark.read.parquet(s"$dir/_changes/v$v").count()
      Seq(row(v, n))
    }
  }

  /** [[graft.GraftTable.materializeTombstones]] as SQL: fold the
    * merge-on-read deletion-tombstone sidecar back into a physical
    * rewrite (one CoW delete merge of the tombstoned keys) — the remedy
    * every tombstone-blocked operation (compact, bare-target SQL DML)
    * points at, reachable without a Scala handle. No-op when the table
    * carries none. */
  private final class MaterializeTombstones(root: String) extends Proc(root) {
    override def name(): String = "materialize_tombstones"
    override def description(): String =
      "fold deletion tombstones into a physical rewrite (CoW delete merge)"
    override def parameters(): Array[ProcedureParameter] =
      Array(param("table", StringType, comment = "'ns.t' in this catalog"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("folded_tombstones", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val (key, _) = tableKeys(dir)
      val folded = MutableParquetTable.manifestTombstoneRows(
        CdcMergeSink.latestSnapshot(dir))
      val v = graft.GraftTable(spark, dir, key).materializeTombstones()
      Seq(row(v, folded))
    }
  }

  /** [[graft.GraftTable.restoreTo]] as SQL: roll the table back to a
    * prior version's state as a NEW commit (−1 = base). Metadata-only —
    * the rollback manifest references the target's files in place — and
    * history-preserving: the undone versions stay time-travel readable. */
  private final class Restore(root: String) extends Proc(root) {
    override def name(): String = "restore"
    override def description(): String =
      "roll back to a prior version's state as a new metadata-only commit"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("version", LongType, comment =
        "committed version to restore to (-1 = the base snapshot)"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("restored_to", LongType, nullable = false),
      StructField("new_version", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val toV = input.getLong(1)
      val (key, _) = tableKeys(dir)
      val v = graft.GraftTable(spark, dir, key).restoreTo(toV)
      Seq(row(toV, v))
    }
  }

  /** [[graft.GraftTable.cloneFrom]] as SQL: zero-copy SHALLOW CLONE of a
    * table's latest state into a new catalog table — one referencing
    * manifest, no data bytes at any table size. The source's vacuum does
    * not see the clone's references (the Delta shallow-clone caveat). */
  private final class CloneTable(root: String) extends Proc(root) {
    override def name(): String = "clone"
    override def description(): String =
      "zero-copy shallow clone of a table's latest state into a new table"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("source", StringType, comment = "'ns.t' in this catalog"),
      param("target", StringType, comment =
        "'ns.t2' to create (must not exist)"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("target_location", StringType, nullable = false),
      StructField("referenced_files", LongType, nullable = false),
      StructField("rows", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val src = tableDir(input)
      val targetName = input.getUTF8String(1).toString
      val dst = (root +: targetName.split('.').toSeq.filter(_.nonEmpty))
        .mkString("/")
      graft.GraftTable.cloneFrom(spark, src, dst)
      val base = s"$dst/base"
      Seq(row(dst,
        MutableParquetTable.manifestFileNames(base).map(_.size.toLong)
          .getOrElse(0L),
        MutableParquetTable.manifestExactRowCount(base).getOrElse(-1L)))
    }
  }

  /** [[CdcMergeSink.vacuum]] as SQL: drop versions beyond the newest
    * `keep_last` (reference-counted — files still listed by a retained
    * manifest survive) and sweep expired `.tx-` staging debris. */
  private final class Vacuum(root: String) extends Proc(root) {
    override def name(): String = "vacuum"
    override def description(): String =
      "drop table versions beyond the newest keep_last (refcounted)"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("keep_last", IntegerType, Some("10"),
        "versions to retain (>= 1)"),
      param("retain_hours", IntegerType, Some("-1"),
        "time-based retention: drop versions older than this many " +
          "hours (keep_last then acts as the minimum kept); -1 = " +
          "count-based only"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("dropped_version", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val retainHours = input.getInt(2)
      val dropped =
        if (retainHours >= 0)
          CdcMergeSink.vacuumRetain(dir, retainHours * 3600L * 1000L,
            minKeepLast = input.getInt(1))
        else CdcMergeSink.vacuum(dir, input.getInt(1))
      dropped.map(row(_))
    }
  }

  /** Size-targeted compaction committed as the next version: raw
    * row-group splicing (zero decode), composite identity and dim zone
    * maps preserved via the manifest carry. When a dropped-column
    * blocklist is live, compaction instead REWRITES through the logical
    * schema ([[graft.GraftTable.compact]]) — purging the stale bytes and
    * clearing the blocklist, the documented path to re-ADDing a dropped
    * name. */
  private final class Compact(root: String) extends Proc(root) {
    override def name(): String = "compact"
    override def description(): String =
      "fold small files to ~target_mb each, committed as the next version"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("target_mb", IntegerType, Some("128"), "target file size"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val (key, moreKeys) = tableKeys(dir)
      val latest = CdcMergeSink.latestSnapshot(dir)
      val before = MutableParquetTable.manifestFileNames(latest)
        .map(_.size).getOrElse(0)
      val v = graft.GraftTable(spark, dir, key)
        .compact(input.getInt(1).toLong * 1024 * 1024, moreKeys)
      val after = MutableParquetTable.manifestFileNames(s"$dir/v$v")
        .map(_.size).getOrElse(0)
      Seq(row(v, before, after))
    }
  }

  /** [[graft.GraftTable.compactRange]] as SQL: fold only the files whose
    * key interval intersects `[lo, hi]`, pass the rest through
    * metadata-only — the maintenance a write-hot key range needs without
    * touching the cold 99% of a big table. `lo`/`hi` arrive as strings
    * and coerce through the table's key type (integral, string, or date
    * keys — the dominant layouts; other key types use the Scala API with
    * properly-typed bounds). */
  private final class CompactRange(root: String) extends Proc(root) {
    override def name(): String = "compact_range"
    override def description(): String =
      "fold the files intersecting [lo, hi] to ~target_mb each; " +
        "files outside the range pass through metadata-only"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("lo", StringType, comment = "range lower bound (inclusive)"),
      param("hi", StringType, comment = "range upper bound (inclusive)"),
      param("target_mb", IntegerType, Some("128"), "target file size"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val (key, moreKeys) = tableKeys(dir)
      val latest = CdcMergeSink.latestSnapshot(dir)
      val loS = input.getUTF8String(1).toString
      val hiS = input.getUTF8String(2).toString
      val kt = MutableParquetTable.manifestSchema(latest)
        .flatMap(_.fields.find(_.name.equalsIgnoreCase(key)))
        .map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.LongType)
      def coerce(s: String): Any = kt match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => s.toLong
        case org.apache.spark.sql.types.StringType => s
        case org.apache.spark.sql.types.DateType => java.sql.Date.valueOf(s)
        case other => throw new IllegalArgumentException(
          s"compact_range string bounds cannot address a " +
            s"${other.simpleString} key — use GraftTable.compactRange " +
            "with typed bounds")
      }
      val before = MutableParquetTable.manifestFileNames(latest)
        .map(_.size).getOrElse(0)
      val v = graft.GraftTable(spark, dir, key)
        .compactRange(coerce(loS), coerce(hiS),
          input.getInt(3).toLong * 1024 * 1024, moreKeys)
      val vd = s"$dir/v$v"
      val after = MutableParquetTable.manifestFileNames(vd)
        .map(_.size).getOrElse(before)
      Seq(row(v, before, after))
    }
  }

  /** [[graft.GraftTable.rebucket]] as SQL: change (or add, or remove)
    * the table's fixed hash-bucket layout, committed as the next
    * version — the lifecycle closer for the one parameter CREATE pins
    * forever. A full rewrite by necessity (the bucket function moves
    * every row), so dropped columns, renames, and tombstones
    * materialize away with it. */
  private final class Rebucket(root: String) extends Proc(root) {
    override def name(): String = "rebucket"
    override def description(): String =
      "re-hash the table into `buckets` buckets (0 = de-bucket), " +
        "committed as the next version"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("buckets", IntegerType,
        comment = "new bucket count; 0 de-buckets to the range layout"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("buckets_before", IntegerType, nullable = false),
      StructField("buckets_after", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val (key, moreKeys) = tableKeys(dir)
      val before = MutableParquetTable
        .manifestBuckets(CdcMergeSink.latestSnapshot(dir)).getOrElse(0)
      val asked = input.getInt(1)
      require(asked >= 0, s"buckets must be >= 0 (got $asked)")
      val spec = if (asked == 0) None else Some(asked)
      val v = graft.GraftTable(spark, dir, key)
        .rebucket(spec, moreKeys = moreKeys)
      val after = MutableParquetTable.manifestFileNames(s"$dir/v$v")
        .map(_.size).getOrElse(0)
      Seq(row(v, before, asked, after))
    }
  }

  /** `CALL g.system.rebuild_index(table => 'idx.t', layout => 'probe')` —
    * re-lay-out a persisted dedup signature index (MinHash or Hamming,
    * [[graft.operators.Dedup.rebuildIndexLayout]]) between the
    * ingest-local (doc-id-led `idx_key`) and probe-local (band:bucket-led
    * + dim zone maps) layouts, committed as the next version like
    * `rebucket`. Lets an orchestrator flip the layout as a scheduled
    * maintenance commit when a pipeline's probe/ingest balance changes,
    * with no Scala handle and no re-sketching. */
  private final class RebuildIndex(root: String) extends Proc(root) {
    override def name(): String = "rebuild_index"
    override def description(): String =
      "rewrite a dedup signature index into the 'probe' or 'ingest' " +
        "layout, committed as the next version"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("layout", StringType, comment =
        "'probe' (band:bucket-led idx_key + dim zone maps, probe prunes " +
          "files) or 'ingest' (doc-id-led idx_key, merges touch ~one file)"),
      param("files", IntegerType, default = Some("0"),
        comment = "output file count; 0 keeps the current count"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("layout", StringType, nullable = false),
      StructField("files_after", IntegerType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val layout = input.getUTF8String(1).toString
        .toLowerCase(java.util.Locale.ROOT)
      require(layout == "probe" || layout == "ingest",
        s"layout must be 'probe' or 'ingest' (got '$layout')")
      val files = input.getInt(2)
      require(files >= 0, s"files must be >= 0 (got $files)")
      val v = graft.operators.Dedup.rebuildIndexLayout(spark, dir,
        probeLayout = layout == "probe", files = files)
      val after = MutableParquetTable.manifestFileNames(s"$dir/v$v")
        .map(_.size).getOrElse(0)
      Seq(row(v, layout, after))
    }
  }

  /** Z-order re-clustering committed as the next version: rows unchanged,
    * layout re-sorted on the Morton curve of `dims`, per-file dim zone
    * maps attached so scans file-prune on EVERY curve dimension. The key
    * zone map stays in the manifest but its per-file ranges now overlap —
    * merges detect that and switch to exact holder routing (one
    * key-column scan joined to the batch keys marks only the files that
    * really hold a batch key dirty), so mutations on a z-ordered table
    * stay proportional to the touched files, not the table. The rewrite
    * and its dim zone maps are staged privately and published by the one
    * slot claim every version takes ([[graft.OptimisticCommit]]): safe
    * beside concurrent writers, re-run against the new head when one
    * wins the slot first. */
  private final class ZOrderProc(root: String) extends Proc(root) {
    override def name(): String = "zorder"
    override def description(): String =
      "re-cluster on the Morton curve of dims, committed as the next version"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' in this catalog"),
      param("dims", StringType,
        comment = "comma-separated numeric columns to interleave"),
      param("target_files", IntegerType, Some("0"),
        "output file count (0 = keep the current count)"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("dims", StringType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val dir = tableDir(input)
      val (key, _) = tableKeys(dir)
      val dims = input.getUTF8String(1).toString
        .split(',').map(_.trim).toSeq.filter(_.nonEmpty)
      require(dims.nonEmpty, "zorder needs at least one dim column")
      val latest = CdcMergeSink.latestSnapshot(dir)
      // a z-ordered rewrite emits plain part files: on a hash-bucketed
      // table it would commit a manifest claiming buckets over un-bucketed
      // files — every later merge would fail and SPJ silently degrade.
      // The two layouts are contradictory clusterings; refuse.
      require(MutableParquetTable.manifestBuckets(latest).isEmpty,
        "zorder is not supported on a hash-bucketed table: the Morton " +
          "layout would break the file-bucket invariant storage-" +
          "partitioned joins rely on")
      val nFiles = {
        val cur = MutableParquetTable.manifestFileNames(latest)
          .map(_.size).getOrElse(0)
        val asked = input.getInt(2)
        if (asked > 0) asked else math.max(1, cur)
      }
      // staged privately and published by the one slot claim every
      // version takes: the dim zone maps are attached BEFORE the publish,
      // so the published manifest is never edited afterwards
      val v = graft.OptimisticCommit.commitRewrite(dir, "zorder") {
        (head, target) =>
          val state = CdcMergeSink.readSnapshot(spark, head)
          require(state.limit(1).count() > 0, "cannot z-order an empty table")
          ZOrder.writeZOrdered(state, target, dims, nFiles)
          // commit with the SOURCE snapshot as the carry anchor (moreKeys
          // + any prior dim sections), then attach fresh per-file ranges
          // for the union of prior dims and the curve dims
          MutableParquetTable(spark, head, key,
            moreKeys = MutableParquetTable.manifestMoreKeys(head))
            // the curve rewrite reads through the logical schema, so
            // dropped columns' stale bytes are purged — blocklist clears
            .commitManifest(target, physicalRewrite = true)
          val allDims = (MutableParquetTable.manifestDimRanges(head).keys.toSeq
            ++ dims).distinct.sorted
          MutableParquetTable.attachDimRanges(spark, target, allDims)
          true
      }
      Seq(row(v, nFiles, dims.mkString(",")))
    }
  }

  // ---- graph analytics as SQL CALL --------------------------------------

  /** Shared machinery for the graph-tier procedures: read the DIRECTED
    * edge list (two long-castable columns) from a table's LATEST state,
    * run the operator, and write the node-keyed result as a NEW graft
    * table in the catalog (so an orchestrator needs no Scala handle for
    * analytics either — the result is time-traveled, cloned, vacuumed
    * like any table). The procedure's own result stays BOUNDED: the
    * target location and its node count, never the node frame. */
  private abstract class GraphProc(root: String) extends Proc(root) {
    protected def edgeFrame(spark: SparkSession, input: InternalRow,
                            srcOrd: Int, dstOrd: Int)
        : org.apache.spark.sql.DataFrame = {
      val dir = tableDir(input)
      val (key, _) = tableKeys(dir)
      val srcCol = input.getUTF8String(srcOrd).toString
      val dstCol = input.getUTF8String(dstOrd).toString
      graft.GraftTable(spark, dir, key).read()
        .select(org.apache.spark.sql.functions.col(srcCol).cast("long")
          .as("src"),
          org.apache.spark.sql.functions.col(dstCol).cast("long")
            .as("dst"))
    }
    protected def writeResult(spark: SparkSession,
                              result: org.apache.spark.sql.DataFrame,
                              targetName: String): (String, Long) = {
      val dst = (root +: targetName.split('.').toSeq.filter(_.nonEmpty))
        .mkString("/")
      require(!Files.isDirectory(Paths.get(dst, "base")),
        s"$targetName already exists — drop/clone it away first")
      graft.GraftTable.create(result, dst, "node_id", numFiles = 4)
      (dst, MutableParquetTable.manifestExactRowCount(s"$dst/base")
        .getOrElse(-1L))
    }
  }

  /** [[graft.operators.Graph.pageRank]] as SQL: exact integer pico-rank
    * power iteration over the table's (src, dst) edges, result written
    * as a new `(node_id, rank_pico)` catalog table. */
  private final class PageRankProc(root: String) extends GraphProc(root) {
    override def name(): String = "pagerank"
    override def description(): String =
      "PageRank over (src, dst) edges; writes (node_id, rank_pico) as a " +
        "new table"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' edge table"),
      param("result", StringType, comment = "'ns.t2' to create"),
      param("src", StringType, Some("'src'"), "source-id column"),
      param("dst", StringType, Some("'dst'"), "target-id column"),
      param("iterations", IntegerType, Some("6"), "power-iteration count"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("result_location", StringType, nullable = false),
      StructField("n_nodes", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val edges = edgeFrame(spark, input, 2, 3)
        .withColumn("w", org.apache.spark.sql.functions.lit(1L))
      val pr = graft.operators.Graph.pageRank(edges, input.getInt(4))
      val (loc, n) = writeResult(spark, pr,
        input.getUTF8String(1).toString)
      Seq(row(loc, n))
    }
  }

  /** [[graft.operators.Graph.connectedComponents]] as SQL (undirected,
    * large-star/small-star): writes `(node_id, component)`. */
  private final class ConnectedComponentsProc(root: String)
      extends GraphProc(root) {
    override def name(): String = "connected_components"
    override def description(): String =
      "connected components over (src, dst) edges; writes " +
        "(node_id, component) as a new table"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' edge table"),
      param("result", StringType, comment = "'ns.t2' to create"),
      param("src", StringType, Some("'src'"), "source-id column"),
      param("dst", StringType, Some("'dst'"), "target-id column"),
      param("max_rounds", IntegerType, Some("16"),
        "star-contraction round budget (fail-fast past it)"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("result_location", StringType, nullable = false),
      StructField("n_nodes", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val cc = graft.operators.Graph.connectedComponents(
        edgeFrame(spark, input, 2, 3), input.getInt(4))
      val (loc, n) = writeResult(spark, cc,
        input.getUTF8String(1).toString)
      Seq(row(loc, n))
    }
  }

  /** [[graft.operators.Graph.stronglyConnectedComponents]] as SQL
    * (directed, forward-coloring + backward sweep): writes
    * `(node_id, scc)`. */
  private final class SccProc(root: String) extends GraphProc(root) {
    override def name(): String = "scc"
    override def description(): String =
      "strongly connected components over DIRECTED (src, dst) edges; " +
        "writes (node_id, scc) as a new table"
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType, comment = "'ns.t' edge table"),
      param("result", StringType, comment = "'ns.t2' to create"),
      param("src", StringType, Some("'src'"), "source-id column"),
      param("dst", StringType, Some("'dst'"), "target-id column"),
      param("max_rounds", IntegerType, Some("16"),
        "condensation-peel round budget (fail-fast past it)"))
    override val resultSchema: StructType = StructType(Seq(
      StructField("result_location", StringType, nullable = false),
      StructField("n_nodes", LongType, nullable = false)))
    override def run(spark: SparkSession, input: InternalRow): Seq[InternalRow] = {
      val scc = graft.operators.Graph.stronglyConnectedComponents(
        edgeFrame(spark, input, 2, 3), input.getInt(4))
      val (loc, n) = writeResult(spark, scc,
        input.getUTF8String(1).toString)
      Seq(row(loc, n))
    }
  }
}
