package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.CdcMergeSink

/** METADATA TABLES of a graft table, by catalog name — the table's own
  * bookkeeping as queryable SQL relations, all answered from manifests
  * (zero data-file IO, one driver-side pass however large the table):
  *
  * {{{
  * SELECT * FROM graft.ns.t.history  -- one row per committed version
  * SELECT * FROM graft.ns.t.files    -- latest snapshot's file inventory
  * }}}
  *
  * `history`: version id, commit wall clock, file/row totals, the
  * streaming sink's txn marker (writer id + epoch) and the feed flag —
  * the audit trail `CALL system.history` prints, but composable
  * (joinable, filterable) as a relation.
  *
  * `files`: the latest snapshot's manifest inventory — resolved path
  * (reference passthrough shows the REAL location in a prior version's
  * dir), row count, typed key range rendered as strings, physical size.
  * What an operator reads before trusting a compaction or debugging a
  * routing decision. */
object GraftMetaTables {

  val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at_ms", LongType),
    StructField("file_count", LongType),
    StructField("total_rows", LongType),
    StructField("txn_app", StringType),
    StructField("txn_epoch", LongType),
    StructField("feed", BooleanType, nullable = false),
    // merge-on-read deletion tombstones this version carries (0 = none);
    // total_rows stays the PHYSICAL inventory — logical rows = total_rows
    // minus the tombstoned keys still physically present
    StructField("tombstones", LongType, nullable = false)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_count", LongType),
    StructField("min_key", StringType),
    StructField("max_key", StringType),
    StructField("size_bytes", LongType)))

  private def boxed(v: Option[Long]): java.lang.Long =
    v.map(java.lang.Long.valueOf).orNull

  def historyRows(root: String): Seq[Array[Any]] =
    CdcMergeSink.versions(root).map { v =>
      val m = Manifest.read(s"$root/v$v")
      val txn = m.flatMap(_.txn)
      Array[Any](v,
        boxed(m.flatMap(_.committedAtMs)),
        boxed(m.map(_.files.size.toLong)),
        boxed(m.map(_.totalRows)),
        txn.map(t => UTF8String.fromString(t._1)).orNull,
        boxed(txn.map(_._2)),
        m.exists(_.feedPending),
        m.map(_.tombstoneRows).getOrElse(0L))
    }

  /** One-row table summary (`SELECT * FROM cat.ns.t.detail` — the
    * DESCRIBE DETAIL analog): location, identity, layout, inventory and
    * retention facts, all from the latest manifest + version listing. */
  val DetailSchema: StructType = StructType(Seq(
    StructField("location", StringType, nullable = false),
    StructField("key", StringType),
    StructField("more_keys", StringType),
    StructField("buckets", IntegerType),
    StructField("num_versions", LongType, nullable = false),
    StructField("latest_version", LongType),
    StructField("file_count", LongType),
    StructField("total_rows", LongType),
    StructField("tombstones", LongType, nullable = false),
    StructField("size_bytes", LongType),
    StructField("committed_at_ms", LongType)))

  def detailRows(root: String): Seq[Array[Any]] = {
    val versions = CdcMergeSink.versions(root)
    val latest = CdcMergeSink.latestSnapshot(root)
    val m = Manifest.read(latest)
    // recorded sizes, one stat per entry that predates size recording
    val sizeBytes = m.map { m =>
      val recorded = m.bytesByName
      m.fileNames.map(e =>
        MutableParquetTable.recordedOrStatSize(latest, e, recorded)).sum
    }
    Seq(Array[Any](
      UTF8String.fromString(root),
      m.map(x => UTF8String.fromString(x.key)).orNull,
      m.map(_.moreKeys).filter(_.nonEmpty)
        .map(k => UTF8String.fromString(k.mkString(","))).orNull,
      m.flatMap(_.buckets).map(java.lang.Integer.valueOf).orNull,
      java.lang.Long.valueOf(versions.size.toLong + 1L), // + base
      versions.lastOption.map(java.lang.Long.valueOf).orNull,
      boxed(m.map(_.files.size.toLong)),
      boxed(m.map(_.totalRows)),
      m.map(_.tombstoneRows).getOrElse(0L),
      boxed(sizeBytes),
      boxed(m.flatMap(_.committedAtMs))))
  }

  def filesRows(root: String): Seq[Array[Any]] = {
    val latest = CdcMergeSink.latestSnapshot(root)
    Manifest.read(latest).flatMap(_.ranges(latest)).getOrElse(Nil).map { r =>
      val p = java.nio.file.Paths.get(r.file)
      Array[Any](UTF8String.fromString(r.file), r.rowCount,
        UTF8String.fromString(String.valueOf(r.min)),
        UTF8String.fromString(String.valueOf(r.max)),
        if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p)
        else null)
    }
  }
}

/** A read-only relation of driver-computed rows; the rows are computed
  * at scan-build time so every query sees the table's CURRENT state. */
final class GraftRowsTable(relName: String, override val schema: StructType,
                           rows: () => Seq[Array[Any]])
    extends Table with SupportsRead {

  override def name(): String = relName

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan with Batch {
      private val data = rows().toArray
      override def readSchema(): StructType = schema
      override def description(): String = relName
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(GraftRowsPartition(data))
      override def createReaderFactory(): PartitionReaderFactory =
        new GraftRowsReaderFactory
    }
  }
}

final case class GraftRowsPartition(rows: Array[Array[Any]])
    extends InputPartition

final class GraftRowsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[GraftRowsPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
  }
}
