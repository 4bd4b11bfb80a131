package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.CdcMergeSink

/** CHANGE-DATA-FEED read mode of the graft source — the persisted
  * per-version row-level feeds ([[graft.GraftTable.commitWithFeed]],
  * `root/_changes/v<id>`) exposed as a first-class DataSource V2
  * relation, batch and micro-batch streaming:
  *
  * {{{
  * // batch: all changes in a version range
  * spark.read.format("graft").option("changeFeed", "true")
  *   .option("startingVersion", 0).option("endingVersion", 5).load(root)
  * // streaming: each committed version becomes a micro-batch
  * spark.readStream.format("graft").option("changeFeed", "true")
  *   .option("startingVersion", 0).load(root)
  * }}}
  *
  * Schema: (key, change_type, before, after, _commit_version) with
  * before/after as full-row structs — derived from the CURRENT manifest
  * table schema, so feeds persisted before a schema evolution read their
  * missing struct fields as null (parquet nested missing-column
  * semantics).
  *
  * Streaming offsets are TABLE VERSIONS (`{"version": N}` = everything
  * through vN consumed): restart-stable, human-readable, and exactly
  * the unit the table commits in — the checkpoint and the table agree on
  * what a batch is by construction. A committed version without a
  * persisted feed (a plain `commit`) advances the offset with an empty
  * batch: gaps are gaps, never failures (matching
  * [[graft.GraftTable.changeFeedStream]]). Without `startingVersion`
  * a stream starts at the CURRENT head and emits only future commits.
  *
  * Scale: planning is one `_changes` directory listing per micro-batch
  * (no data IO); each batch reads only its versions' feed files, which
  * are delta-priced by construction — never the table. */
object GraftChangeFeed {

  /** The feed relation's schema for a table schema + merge key. Must
    * mirror what [[graft.GraftTable.commitWithFeed]] persists. */
  def feedSchema(tableSchema: StructType, key: String): StructType =
    feedSchema(tableSchema, Seq(key))

  /** Composite-identity form: one leading column per key-tuple member
    * (the diff is keyed on the full tuple). */
  def feedSchema(tableSchema: StructType, keys: Seq[String]): StructType = {
    val valStruct = StructType(
      tableSchema.filterNot(f => keys.contains(f.name))
        .map(_.copy(nullable = true)))
    StructType(
      keys.map(k => tableSchema(k).copy(nullable = true)) ++ Seq(
        StructField("change_type", StringType),
        StructField("before", valStruct),
        StructField("after", valStruct),
        StructField("_commit_version", LongType)))
  }

  /** First committed version whose manifest commit time is at or after
    * `tsMillis` — `startingTimestamp`'s resolution rule (changes made at
    * or after the wall clock). None when every version predates it.
    *
    * Commit times are monotone along the chain (each version stages
    * strictly after its predecessor committed), so the answer is found by
    * BINARY SEARCH over the version list: O(log versions) manifest reads
    * instead of a linear sweep from v0 — on a long-lived table the sweep
    * is O(versions) driver IO per resolution. */
  def versionAtOrAfter(root: String, tsMillis: Long): Option[Long] =
    versionAtOrAfterWith(root, tsMillis, Manifest.read)

  /** [[versionAtOrAfter]] with an injectable manifest reader — the test
    * seam that lets a spec count manifest reads (≤ ⌈log₂(versions)⌉+1). */
  private[graft] def versionAtOrAfterWith(
      root: String, tsMillis: Long,
      readManifest: String => Option[Manifest]): Option[Long] = {
    val vs = CdcMergeSink.versions(root).toIndexedSeq
    // pre-`committedAtMs` manifests are older than any manifest carrying
    // the field (the field stamps every commit since it exists), so
    // treating them as -inf preserves the monotone order the search needs
    def timeOf(v: Long): Long =
      readManifest(s"$root/v$v").flatMap(_.committedAtMs)
        .getOrElse(Long.MinValue)
    var lo = 0
    var hi = vs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (timeOf(vs(mid)) >= tsMillis) hi = mid else lo = mid + 1
    }
    if (lo < vs.length) Some(vs(lo)) else None
  }

  /** Version ids with a persisted feed dir, ascending. */
  def feedVersions(root: String): Seq[Long] = {
    val d = Paths.get(root, "_changes")
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.matches("v\\d+"))
      .map(_.getFileName.toString.drop(1).toLong).toList.sorted
    finally s.close()
  }

  /** Parquet files of the feeds for versions in [from, to]. A feed dir
    * without its `_SUCCESS` marker is a write IN FLIGHT (or crashed) —
    * skipped, so a batch CDF read racing a live `commitWithFeed` never
    * sees a partial feed (the streaming path additionally holds its
    * offset on such versions via the manifest's feedPending flag). */
  def filesFor(root: String, from: Long, to: Long): Seq[String] =
    feedVersions(root).filter(v => v >= from && v <= to)
      .filter(v => Files.exists(Paths.get(root, "_changes", s"v$v", "_SUCCESS")))
      .flatMap { v =>
        val d = Paths.get(root, "_changes", s"v$v")
        val s = Files.list(d)
        try s.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toList.sorted
        finally s.close()
      }

  /** BATCH-path file resolution: a committed version in [from, to] whose
    * manifest DECLARED a feed (`feedPending`) but whose feed write never
    * finished (`_changes/v<id>/_SUCCESS` absent) is a crashed
    * `commitWithFeed` — silently skipping it (what [[filesFor]] does for
    * in-flight races) would return an incomplete change set with no
    * error, so the batch read fails fast and points at the repair
    * procedure instead. The streaming path stalls its offset on exactly
    * this condition — both surfaces are data-loss-safe. An in-flight
    * (racing, not crashed) feed write is indistinguishable here; the
    * caller retries once the `_SUCCESS` marker lands, or bounds the read
    * below the racing version with `endingVersion`. */
  def filesForBatch(root: String, from: Long, to: Long): Seq[String] = {
    CdcMergeSink.versions(root)
      .filter(v => v >= from && v <= to)
      .foreach { v =>
        // cheap _SUCCESS stat FIRST: the manifest (feedPending) is read
        // only for versions whose feed marker is absent — on a long
        // feed-heavy history the sweep costs stats, not manifest reads
        if (!Files.exists(Paths.get(root, "_changes", s"v$v", "_SUCCESS")) &&
            Manifest.read(s"$root/v$v").exists(_.feedPending))
          throw new IllegalStateException(
            s"change-data feed of version $v at $root was declared " +
              "(feedPending) but never finished writing — a crashed " +
              "commitWithFeed; a batch read would silently miss its " +
              "rows. Run CALL <catalog>.system.repair_feed(table => " +
              s"'ns.t', version => $v) (or GraftTable.repairFeed($v)) " +
              "to rebuild it, or bound the read with endingVersion < " +
              s"$v if the feed write is still in flight")
      }
    filesFor(root, from, to)
  }

  /** Spark's vectorized parquet batch over an explicit feed-file list
    * (empty list → zero partitions). */
  private[sources] def parquetBatch(spark: SparkSession, files: Seq[String],
                                    schema: StructType): Batch =
    if (files.isEmpty)
      new Batch {
        override def planInputPartitions(): Array[InputPartition] = Array.empty
        override def createReaderFactory(): PartitionReaderFactory =
          new GraftMetadataReaderFactory
      }
    else {
      val index = new InMemoryFileIndex(spark, files.map(new Path(_)),
        Map.empty[String, String], Some(schema),
        FileStatusCache.getOrCreate(spark), None, None)
      ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
        dataSchema = schema, readDataSchema = schema,
        readPartitionSchema = new StructType(),
        pushedFilters = Array.empty,
        options = CaseInsensitiveStringMap.empty()).toBatch
    }
}

/** Scan builder + scan for the feed relation. No pushdown: the feed is
  * delta-sized already and Catalyst applies every filter above. */
final class GraftChangeFeedScanBuilder(spark: SparkSession, root: String,
                                       schema: StructType,
                                       startingVersion: Option[Long],
                                       endingVersion: Option[Long],
                                       maxVersionsPerTrigger: Option[Int] = None)
    extends ScanBuilder {
  override def build(): Scan =
    new GraftChangeFeedScan(spark, root, schema, startingVersion,
      endingVersion, maxVersionsPerTrigger)
}

final class GraftChangeFeedScan(spark: SparkSession, root: String,
                                schema: StructType,
                                startingVersion: Option[Long],
                                endingVersion: Option[Long],
                                maxVersionsPerTrigger: Option[Int] = None)
    extends Scan {

  override def readSchema(): StructType = schema

  override def description(): String =
    s"GraftChangeFeedScan($root, start=${startingVersion.getOrElse(0L)}" +
      endingVersion.map(e => s", end=$e").getOrElse("") + ")"

  /** Batch CDF: all persisted changes in [startingVersion (default 0),
    * endingVersion (default: everything)]. A crashed feed write inside
    * the range fails the read (see [[GraftChangeFeed.filesForBatch]])
    * rather than silently dropping a version's changes. */
  override def toBatch: Batch =
    GraftChangeFeed.parquetBatch(spark,
      GraftChangeFeed.filesForBatch(root, startingVersion.getOrElse(0L),
        endingVersion.getOrElse(Long.MaxValue)), schema)

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new GraftChangeFeedStream(spark, root, schema, startingVersion,
      maxVersionsPerTrigger)
}

/** `{"version": N}` — everything through table version N is consumed. */
final case class GraftVersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

final class GraftChangeFeedStream(spark: SparkSession, root: String,
                                  schema: StructType,
                                  startingVersion: Option[Long],
                                  maxVersionsPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // the planned range's batch: planInputPartitions stores it so
  // createReaderFactory hands out the factory of the SAME file list
  private var planned: Batch =
    GraftChangeFeed.parquetBatch(spark, Nil, schema)

  // versions proven consumable — readiness is monotonic (feed files and
  // _SUCCESS are immutable once written), so each version is checked at
  // most once however hot the trigger polls
  private val ready = scala.collection.mutable.Set.empty[Long]

  // whether a version DECLARED a feed — immutable per version (stamped
  // at commit), memoized so admission control costs no repeat manifest IO
  private val declaredFeed = scala.collection.mutable.Map.empty[Long, Boolean]

  private def hasFeed(v: Long): Boolean =
    declaredFeed.getOrElseUpdate(v,
      Manifest.read(s"$root/v$v").exists(_.feedPending))

  /** A committed version is CONSUMABLE when it either declared no feed
    * (plain commit — an empty batch, a gap) or its feed write finished
    * (`_changes/v<id>/_SUCCESS`). A feed-declaring version whose feed is
    * still being written holds the offset — consuming it early would
    * emit the version empty and never revisit it. A writer that crashes
    * between commit and feed write stalls the stream at that version
    * (data-loss-safe; re-run the feed write to resume). */
  private def consumable(v: Long): Boolean =
    ready.contains(v) || {
      val ok = !hasFeed(v) ||
        Files.exists(Paths.get(root, "_changes", s"v$v", "_SUCCESS"))
      if (ok) ready.add(v)
      ok
    }

  // the stream's floor: versions at or below it are never consumed, so
  // their readiness must not hold the offset back (e.g. an old crashed
  // feed below a head-started stream)
  private lazy val floor: Long = startingVersion.map(_ - 1).getOrElse(
    CdcMergeSink.versions(root).lastOption.getOrElse(-1L))

  override def initialOffset(): Offset = GraftVersionOffset(floor)

  /** Highest fully-consumable committed version above `from` (the
    * stream's available head before any admission limit). Scanning from
    * the ENGINE's start offset — not from this instance's floor — is
    * what makes restarts exact: a head-started stream that checkpointed
    * at v2 and restarted after v3/v4 committed must still deliver them,
    * and a freshly-recomputed floor would silently skip past. */
  private def consumableHead(from: Long): Long =
    CdcMergeSink.versions(root).filter(_ > from).takeWhile(consumable)
      .lastOption.getOrElse(from)

  // Trigger.AvailableNow: the head is pinned at prepare time, the query
  // drains up to it (respecting per-trigger limits) and stops
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(consumableHead(floor))

  /** ADMISSION CONTROL: `maxVersionsPerTrigger` bounds how many table
    * versions one micro-batch drains — a restarted stream that is many
    * commits behind catches up in bounded steps instead of one giant
    * batch. Surfaced as `ReadLimit.maxFiles` (the closest engine limit
    * kind: one feed dir per version). */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    val head = availableNowCap.map(c => math.min(c, consumableHead(s)))
      .getOrElse(consumableHead(s))
    val capped = limit match {
      case m: ReadMaxFiles =>
        // count only FEED-BEARING versions toward the per-trigger budget:
        // plain-commit gaps contribute no rows (and no feed dirs — the
        // limit's unit), so a stream catching up through a history
        // interleaved with non-feed commits still receives the promised
        // number of feed batches per trigger; trailing gaps ride along
        // for free (the loop only stops once the NEXT feed would exceed
        // the budget, never on a gap)
        var feeds = 0
        var last = s
        var blocked = false
        val it = CdcMergeSink.versions(root).iterator
          .filter(v => v > s && v <= head)
        while (it.hasNext && !blocked) {
          val v = it.next()
          if (hasFeed(v)) {
            if (feeds < m.maxFiles()) { feeds += 1; last = v }
            else blocked = true // next feed exceeds the budget — stop
          } else last = v // a gap before the blocking feed is free
        }
        last
      case _ => head
    }
    GraftVersionOffset(math.max(capped, s))
  }

  override def reportLatestOffset(): Offset =
    GraftVersionOffset(consumableHead(floor))

  override def latestOffset(): Offset =
    GraftVersionOffset(consumableHead(floor))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = start.asInstanceOf[GraftVersionOffset].version + 1
    val to = end.asInstanceOf[GraftVersionOffset].version
    planned = GraftChangeFeed.parquetBatch(spark,
      GraftChangeFeed.filesFor(root, from, to), schema)
    planned.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    planned.createReaderFactory()

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(
      "\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(
          s"not a graft change-feed offset: $json")))

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
