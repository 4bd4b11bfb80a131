package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.CdcMergeSink

/** LATEST-STATE streaming source for graft tables — the Delta streaming-
  * source analog: `spark.readStream.format("graft").load(root)`.
  *
  * Batches 1..k are the table's CURRENT SNAPSHOT (pinned at stream
  * start, paced by `maxFilesPerTrigger` so a 100 TB table arrives in
  * bounded micro-batches, the Delta option); every later micro-batch is
  * the post-image rows of subsequent commits' persisted change feeds —
  * inserts and updates append downstream as an UPSERT STREAM (each feed
  * row carries the complete new row), paced by `maxVersionsPerTrigger`.
  * Offsets are [[GraftStateOffset]] (snapshot version + file index
  * during the snapshot, table versions after).
  *
  * Data-loss guards, all FAIL-FAST (never a silent gap):
  *  - a post-snapshot version that declared NO feed (a plain `commit`,
  *    a compaction) stops the stream pointing at
  *    `CALL <cat>.system.repair_feed` — which backfills the true diff
  *    (EMPTY for maintenance commits, so the stream then passes it);
  *  - a feed-declaring version whose feed write is still in flight (or
  *    crashed) holds the offset, as the change-feed stream does;
  *  - DELETE feed rows refuse by default (an append stream cannot
  *    represent them); `option("ignoreDeletes", "true")` skips them —
  *    the Delta option, same caveat;
  *  - tombstoned snapshots refuse at start (materialize first).
  *
  * Scale: the snapshot batch reads the manifest file list (the same
  * files a batch read plans); each later batch reads only its versions'
  * delta-priced feed files. Planning is manifest/driver metadata only. */
final class GraftStateStream(spark: SparkSession, root: String,
                             tableSchema: StructType,
                             required: StructType,
                             keys: Seq[String],
                             ignoreDeletes: Boolean,
                             maxFilesPerTrigger: Option[Int] = None,
                             maxVersionsPerTrigger: Option[Int] = None,
                             maxBytesPerTrigger: Option[Long] = None,
                             startingVersion: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val feedSchema = GraftChangeFeed.feedSchema(tableSchema, keys)

  /** The snapshot served as batches 1..k — pinned at stream START and
    * carried in the OFFSET from then on (a restart mid-snapshot must
    * keep slicing the SAME version's file list, however many commits
    * landed since; only a fresh stream with no checkpoint re-pins).
    * -1 = only the base exists. */
  private val snapshotVersion: Long =
    CdcMergeSink.versions(root).lastOption.getOrElse(-1L)

  private def dirOf(version: Long): String =
    if (version < 0) s"$root/base" else s"$root/v$version"

  /** A version's file list, deterministically ordered — the unit
    * `maxFilesPerTrigger` paces the initial snapshot in (a 100 TB table
    * must not arrive as one giant micro-batch; the Delta
    * streaming-source option, same semantics). Cached per version (at
    * most one version is ever sliced per stream instance). */
  private val filesCache =
    scala.collection.mutable.Map.empty[Long, IndexedSeq[String]]
  private def snapshotFiles(version: Long): IndexedSeq[String] =
    filesCache.getOrElseUpdate(version, {
      val d = dirOf(version)
      MutableParquetTable.manifestFileNames(d)
        .map(_.map(n => MutableParquetTable.resolvePath(d, n)))
        .getOrElse {
          // a committed version ALWAYS has a manifest — absence means the
          // checkpoint-pinned snapshot was vacuumed; serving tableFiles
          // of a swept dir would be a partial/empty snapshot, silently
          if (version >= 0)
            throw new IllegalStateException(
              s"snapshot version v$version pinned by this stream's " +
                s"checkpoint no longer exists under $root (vacuumed). " +
                "Restart the stream from a fresh checkpoint")
          MutableParquetTable.tableFiles(d) // bare `base`: no manifest
        }
        .sorted.toIndexedSeq
    })

  /** Per-file byte sizes of a snapshot version's file list (aligned with
    * [[snapshotFiles]]) — `maxBytesPerTrigger` pacing. Manifest-recorded
    * sizes when present (zero filesystem calls); one stat per
    * pre-recording entry. */
  private val bytesCache =
    scala.collection.mutable.Map.empty[Long, IndexedSeq[Long]]
  private def snapshotBytes(version: Long): IndexedSeq[Long] =
    bytesCache.getOrElseUpdate(version, {
      val rec = MutableParquetTable.manifestBytesByName(dirOf(version))
      snapshotFiles(version).map { f =>
        rec.getOrElse(f.split('/').last, {
          val p = Paths.get(f)
          if (Files.exists(p)) Files.size(p) else 0L
        })
      }
    })

  // the planned batch's reader factory — set by planInputPartitions,
  // handed out by createReaderFactory (same pattern as the CDF stream)
  private var planned: Batch =
    GraftChangeFeed.parquetBatch(spark, Nil, required)
  private var wrapFeed: Boolean = false

  /** `option("startingVersion", n)` — the Delta option: SKIP the
    * snapshot and deliver changes from table version n on (a consumer
    * that already holds the table's state, e.g. restored from its own
    * checkpointed sink, must not re-receive 100 TB). The offset starts
    * as "consumed through n−1"; the retention guard fails a start below
    * the vacuum horizon rather than silently skipping. */
  override def initialOffset(): Offset = startingVersion match {
    case Some(v) => GraftStateOffset(v - 1, -1L)
    case None    => GraftStateOffset(snapshotVersion, 0L)
  }

  /** The floor version AvailableNow/reporting reason from: the pinned
    * snapshot, or the startingVersion's predecessor in skip mode. */
  private def offsetFloor: Long =
    startingVersion.map(_ - 1).getOrElse(math.max(snapshotVersion, -1L))

  private def hasFeed(v: Long): Boolean =
    Manifest.read(s"$root/v$v").exists(_.feedPending)

  private def feedComplete(v: Long): Boolean =
    Files.exists(Paths.get(root, "_changes", s"v$v", "_SUCCESS"))

  private def feedDirExists(v: Long): Boolean =
    Files.isDirectory(Paths.get(root, "_changes", s"v$v"))

  /** Versions this stream has yet to consume must still EXIST. Version
    * ids are dense commit slots and vacuum only ever drops a PREFIX of
    * them, so a gap between `from` and the lowest surviving version
    * above it means retention dropped unconsumed versions — their change
    * feeds are deleted with them, and advancing would be a SILENT data
    * loss (exactly the gap mode this source's guards exist to prevent;
    * Delta fails the same way on a checkpoint below the retention
    * horizon). */
  private def assertNotVacuumed(from: Long, surviving: Seq[Long]): Unit =
    surviving.find(_ > from).foreach { lo =>
      if (lo > from + 1)
        throw new IllegalStateException(
          s"stream checkpoint at version $from is below $root's " +
            s"retention horizon: versions ${from + 1}..${lo - 1} were " +
            "vacuumed and their change feeds deleted with them. Restart " +
            "the stream from a fresh checkpoint (it will serve the " +
            "current snapshot, then follow the feed)")
    }

  /** Highest consumable version above `from`: every version must carry a
    * COMPLETE feed (committed with one, or backfilled by repair_feed) —
    * a feedless version is a data-loss hazard and fails the stream; an
    * in-flight feed (declared or mid-repair) holds the offset. */
  private def consumableHead(from: Long): Long = {
    var last = from
    val surviving = CdcMergeSink.versions(root)
    assertNotVacuumed(from, surviving)
    val it = surviving.iterator.filter(_ > from)
    var stop = false
    while (it.hasNext && !stop) {
      val v = it.next()
      if (feedComplete(v)) last = v
      else if (hasFeed(v) || feedDirExists(v))
        stop = true // declared or mid-repair: hold, data-loss-safe
      else
        throw new IllegalStateException(
          s"$root/v$v committed WITHOUT a change feed — the state stream " +
            "cannot reconstruct its rows. Backfill the diff with " +
            "CALL <catalog>.system.repair_feed(table => ..., version => " +
            s"$v) (empty for maintenance commits), or use commitWithFeed " +
            "for ingest writes")
    }
    last
  }

  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(consumableHead(offsetFloor))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** `maxVersionsPerTrigger` cap over the feed walk: at most m versions
    * advance per micro-batch (catch-up in bounded steps). */
  private def cappedHead(s: Long): Long = {
    val head = consumableHead(s)
    val capped = maxVersionsPerTrigger match {
      case Some(m) =>
        CdcMergeSink.versions(root).filter(v => v > s && v <= head)
          .take(m).lastOption.getOrElse(s)
      case None => head
    }
    availableNowCap.map(math.min(_, capped)).getOrElse(capped)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[GraftStateOffset]
    if (so.index >= 0L) {
      // snapshot phase (version pinned IN the offset): advance by
      // maxFilesPerTrigger files and/or maxBytesPerTrigger bytes
      // (whichever caps first; always at least one file so the stream
      // makes progress), then switch to version offsets once every file
      // is served
      val size = snapshotFiles(so.version).size.toLong
      val byFiles = maxFilesPerTrigger
        .map(m => math.min(size, so.index + m)).getOrElse(size)
      val byBytes = maxBytesPerTrigger.map { cap =>
        val bs = snapshotBytes(so.version)
        var i = so.index.toInt
        var acc = 0L
        var taken = 0
        while (i < bs.length && (taken == 0 || acc + bs(i) <= cap)) {
          acc += bs(i); i += 1; taken += 1
        }
        i.toLong
      }.getOrElse(size)
      val next = math.min(byFiles, byBytes)
      if (so.index < size) GraftStateOffset(so.version, next)
      else GraftStateOffset(cappedHead(so.version), -1L)
    } else GraftStateOffset(cappedHead(so.version), -1L)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = {
    val floor = offsetFloor
    GraftStateOffset(
      try consumableHead(floor) catch { case _: IllegalStateException => floor },
      -1L)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStateOffset]
    val e = end.asInstanceOf[GraftStateOffset]
    if (s.index >= 0L && e.index >= 0L) {
      // a snapshot slice [s.index, e.index) of the OFFSET-pinned
      // version, pruned-schema scan. Renamed columns: the files carry
      // PHYSICAL names — scan under them; rows bind to the source's
      // logical attributes positionally (names swapped, positions/types
      // identical), so the stream output stays logical
      planned = GraftChangeFeed.parquetBatch(spark,
        snapshotFiles(s.version).slice(s.index.toInt, e.index.toInt),
        MutableParquetTable.physicalSchemaOf(required,
          MutableParquetTable.manifestRenames(dirOf(s.version))))
      wrapFeed = false
    } else {
      // feed phase (a transition batch from the snapshot's tail plans
      // feeds from the pinned snapshot version forward). A replayed
      // batch (checkpoint WAL) bypasses latestOffset, so the vacuum
      // guard must run here too.
      assertNotVacuumed(s.version, CdcMergeSink.versions(root))
      planned = GraftChangeFeed.parquetBatch(spark,
        GraftChangeFeed.filesFor(root, s.version + 1, e.version), feedSchema)
      wrapFeed = true
    }
    planned.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = planned.createReaderFactory()
    if (wrapFeed)
      new FeedToStateReaderFactory(inner, required, feedSchema, keys,
        ignoreDeletes)
    else inner
  }

  override def deserializeOffset(json: String): Offset = {
    val v = "\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"not a graft state-stream offset: $json"))
    val i = "\"index\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    GraftStateOffset(v, i)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `{"version":N,"index":I}` — index I ≥ 0 = "snapshot of version N,
  * first I files consumed" (the snapshot version rides in the offset so
  * a mid-snapshot restart keeps slicing the same pinned file list);
  * index -1 = everything through table version N consumed. */
final case class GraftStateOffset(version: Long, index: Long) extends Offset {
  override def json(): String =
    s"""{"version":$version,"index":$index}"""
}

/** Maps feed rows (keys…, change_type, before, after, _commit_version)
  * to table rows of the pruned `required` schema: key columns from the
  * leading feed columns, everything else from the `after` post-image
  * struct. DELETE rows throw (append streams can't represent them)
  * unless `ignoreDeletes`. Row-based by construction (the factory never
  * claims columnar) — feeds are delta-sized, decode cost is bounded. */
final class FeedToStateReaderFactory(delegate: PartitionReaderFactory,
                                     required: StructType,
                                     feedSchema: StructType,
                                     keys: Seq[String],
                                     ignoreDeletes: Boolean)
    extends PartitionReaderFactory {

  private val ctOrdinal = keys.size
  private val afterOrdinal = keys.size + 2
  private val valStruct =
    feedSchema(afterOrdinal).dataType.asInstanceOf[StructType]

  // per required field: Left(feed key ordinal) | Right(after-struct idx)
  private val mapping: Array[Either[Int, Int]] = required.fields.map { f =>
    val k = keys.indexWhere(_.equalsIgnoreCase(f.name))
    if (k >= 0) Left(k)
    else Right(valStruct.fieldIndex(f.name))
  }

  private val DeleteTag = UTF8String.fromString("delete")

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(p)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          val ct = if (r.isNullAt(ctOrdinal)) null else r.getUTF8String(ctOrdinal)
          if (ct != null && ct.equals(DeleteTag)) {
            if (!ignoreDeletes)
              throw new IllegalStateException(
                "the state stream received a DELETE change row — an " +
                  "append stream cannot represent it. Either consume " +
                  "the change feed (option(\"changeFeed\", \"true\")) " +
                  "or skip deletes explicitly with " +
                  "option(\"ignoreDeletes\", \"true\")")
            // else: skip the row, keep scanning
          } else {
            current = convert(r)
            return true
          }
        }
        false
      }

      private def convert(r: InternalRow): InternalRow = {
        val after =
          if (r.isNullAt(afterOrdinal)) null
          else r.getStruct(afterOrdinal, valStruct.size)
        val out = new Array[Any](mapping.length)
        var i = 0
        while (i < mapping.length) {
          out(i) = mapping(i) match {
            case Left(k) =>
              if (r.isNullAt(k)) null else r.get(k, required.fields(i).dataType)
            case Right(vi) =>
              if (after == null || after.isNullAt(vi)) null
              else after.get(vi, required.fields(i).dataType)
          }
          i += 1
        }
        new GenericInternalRow(out)
      }

      override def get(): InternalRow = current
      override def close(): Unit = inner.close()
    }
  }
}
