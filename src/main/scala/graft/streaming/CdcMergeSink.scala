package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{Manifest, MutableParquetTable}

/** Streaming CDC apply: a change stream (upserts/deletes) continuously
  * merged into a key-sorted Parquet table through the copy-on-write path.
  *
  * This closes the loop on the reference's core scenario: its README
  * drives a *stream of updates* into a sorted Parquet file
  * (/root/reference/README.md:36-48) with the caller doing the batching.
  * Here Structured Streaming does the batching — each micro-batch becomes
  * one [[MutableParquetTable.merge]], producing a manifest-committed
  * snapshot per batch:
  *
  * {{{ tableRoot/base        — initial snapshot (writeSorted)
  *     tableRoot/v<batchId>  — snapshot after micro-batch <batchId> }}}
  *
  * Exactly-once without a transaction log: foreachBatch may REPLAY a
  * batch after a failure, but the snapshot for batch N is committed
  * atomically (manifest last) at a deterministic directory derived from
  * the batch id — a replay of a committed batch is a no-op, and a
  * half-written v<N> (no manifest) is cleaned and rebuilt. Readers only
  * ever see committed snapshots via [[latestSnapshot]].
  *
  * Scale shape: state lives entirely in the table layout (no streaming
  * state store growth); each micro-batch pays one footer-routed CoW merge
  * whose cost scales with the dirty-file count, not the table size. The
  * per-batch mutation collapse is one bounded shuffle of the batch only.
  */
object CdcMergeSink {

  /** Cap on the delta leading keys [[changeFeed]] collects driver-side
    * for the shared-file point prune. ~100k keys is a few MB of driver
    * heap; a delta with more distinct keys than this (a bulk tombstone
    * batch) would touch most shared files anyway, so the prune's IO
    * saving no longer justifies an unbounded driver materialization and
    * the feed falls back to reading all shared files — exact either way. */
  val PointPruneMaxKeys: Int = 100000

  /** `v<id>` children of `dir` passing `committed`, ids ascending — the
    * one version-listing used by the table chain (manifest-committed) and
    * [[AggView]] (`_SUCCESS`-committed). */
  private[streaming] def committedVersionIds(
      dir: String, committed: String => Boolean): Seq[Long] = {
    if (!Files.exists(Paths.get(dir))) return Nil
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.matches("v\\d+"))
      .filter(p => committed(p.toString))
      .map(p => p.getFileName.toString.drop(1).toLong)
      .toList.sorted
    finally s.close()
  }

  private[streaming] def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  /** Highest committed snapshot: max v<batchId> carrying a manifest, else
    * `base`. Uncommitted (crashed) version dirs are invisible. */
  def latestSnapshot(tableRoot: String): String =
    versions(tableRoot).lastOption
      .map(v => s"$tableRoot/v$v").getOrElse(s"$tableRoot/base")

  /** All committed batch ids, ascending — the table's version history. */
  def versions(tableRoot: String): Seq[Long] =
    committedVersionIds(tableRoot, MutableParquetTable.isCommitted)

  /** Highest epoch the streaming writer `app` has committed to this
    * table, from the txn markers its commits stamp into their manifests
    * — the exactly-once check of the V2 streaming sink
    * ([[graft.sources.GraftStreamingWrite]]): a restarted query
    * re-offering epoch <= this has already committed and must skip.
    *
    * Epochs are monotonic per app and commits linearize in version
    * order, so the NEWEST version carrying the app's marker holds its
    * maximum epoch — the scan walks newest-first and stops at the first
    * hit (normally the head version; other writers' interleaved commits
    * only deepen it by their count). Worst case — this app never wrote —
    * is one manifest read per version, paid once per sink restart.
    *
    * Markers dropped by [[vacuum]] survive in the `_txns.json` sidecar
    * (per-app max epoch, harvested before decommit) — without it, a sink
    * idle while other writers commit `keepLast`+ versions would lose its
    * newest marker to retention and replay its last epoch twice. The
    * sidecar only ever holds epochs BELOW what the retained manifests
    * carry for a live app, so the max of both views is exact. */
  def lastTxnEpoch(tableRoot: String, app: String): Option[Long] = {
    val fromManifests = versions(tableRoot).reverseIterator
      .map(v => MutableParquetTable.manifestTxn(s"$tableRoot/v$v"))
      .collectFirst { case Some((a, e)) if a == app => e }
    val fromSidecar = sidecarEpochs(tableRoot).get(app)
    (fromManifests.toSeq ++ fromSidecar).maxOption
  }

  /** Per-app max epochs vacuumed out of manifest history — the txn
    * retention sidecar at `tableRoot/_txns.json`. */
  private[graft] def sidecarEpochs(tableRoot: String): Map[String, Long] = {
    val p = Paths.get(tableRoot, "_txns.json")
    if (!Files.exists(p)) return Map.empty
    import scala.jdk.CollectionConverters._
    Manifest.mapper.readTree(p.toFile).properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
  }

  private def writeSidecar(tableRoot: String, epochs: Map[String, Long]): Unit = {
    val body = Manifest.mapper.createObjectNode()
    epochs.toSeq.sortBy(_._1).foreach { case (a, e) => body.put(a, e) }
    val tmp = Paths.get(tableRoot, s".txns-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, Manifest.mapper.writeValueAsBytes(body))
    Files.move(tmp, Paths.get(tableRoot, "_txns.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Time travel: the committed table state as of batch `batchId` — the
    * newest committed version at-or-before it (or the base snapshot when
    * none is). Snapshots are immutable (CoW + hard links), so history
    * reads cost nothing beyond keeping the version dirs around. */
  def readAsOf(spark: SparkSession, tableRoot: String, batchId: Long): DataFrame =
    readSnapshot(spark, resolveAsOf(tableRoot, batchId))

  /** The table state a snapshot dir holds: manifest-trusted when
    * committed — a CLONE's base holds only reference entries (zero local
    * data files), which a plain directory read cannot see — else the
    * directory (a bare base). */
  private[graft] def readSnapshot(spark: SparkSession, dir: String): DataFrame =
    if (MutableParquetTable.isCommitted(dir))
      MutableParquetTable.readCommitted(spark, dir)
    else spark.read.parquet(dir)

  /** The snapshot directory an as-of read resolves to. */
  private def resolveAsOf(tableRoot: String, batchId: Long): String =
    versions(tableRoot).takeWhile(_ <= batchId).lastOption
      .map(v => s"$tableRoot/v$v").getOrElse(s"$tableRoot/base")

  /** A snapshot's parquet files as (base name -> resolved path): manifest
    * inventory for committed merge snapshots — whose entries may REFERENCE
    * files living in prior snapshot dirs (`../vN/...`, the object-store
    * passthrough) — directory listing for the base. Base names are the
    * canonical file identity across snapshots: CoW passthrough preserves
    * them (hard links and manifest references alike) while rewrites mint
    * fresh part-UUID names, so name equality ⇔ byte-identical content. */
  private def snapshotFileMap(dir: String): Map[String, String] =
    MutableParquetTable.manifestFileNames(dir)
      .map(_.map { n =>
        n.substring(n.lastIndexOf('/') + 1) ->
          MutableParquetTable.resolvePath(dir, n)
      }.toMap)
      .getOrElse {
        import scala.jdk.CollectionConverters._
        val s = Files.list(Paths.get(dir))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).map(n => n -> s"$dir/$n").toMap
        finally s.close()
      }

  /** Row-level diff of two table states sharing a schema: one row per
    * changed key with `change_type` insert | update | delete, the full
    * before image (null for inserts) and after image (null for deletes).
    * Unchanged keys drop out via null-safe struct comparison. */
  def rowDiff(before: DataFrame, after: DataFrame, key: String): DataFrame =
    rowDiff(before, after, Seq(key))

  /** [[rowDiff]] on a COMPOSITE row identity: the diff joins on the full
    * key tuple — joining a composite table on its leading column alone
    * would many-to-many the join and fabricate changes for sibling rows
    * sharing a leading value. Output: key columns in order, then
    * change_type / before / after. */
  def rowDiff(before: DataFrame, after: DataFrame,
              keys: Seq[String]): DataFrame = {
    val valCols = after.columns.filterNot(keys.contains).toSeq
    // schema evolution: columns the AFTER side gained read as null on the
    // BEFORE side, so an old row rewritten only to carry the new (null)
    // column compares equal and stays out of the feed
    val beforeAligned = valCols.foldLeft(before) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(after.schema(c).dataType))
    }
    val b = beforeAligned.select(
      keys.map(col) :+ struct(valCols.map(col): _*).as("before"): _*)
    val a = after.select(
      keys.map(col) :+ struct(valCols.map(col): _*).as("after"): _*)
    b.join(a, keys, "full_outer")
      .withColumn("change_type",
        when(col("before").isNull, "insert")
          .when(col("after").isNull, "delete")
          .when(!(col("before") <=> col("after")), "update"))
      .where(col("change_type").isNotNull)
      .select(keys.map(col) ++
        Seq(col("change_type"), col("before"), col("after")): _*)
  }

  /** Change feed between two committed states, computed from the DELTA
    * only. CoW passthrough files keep their names (hard links) while
    * rewritten files get fresh part-UUID names, so a file name present in
    * BOTH snapshots is byte-identical and none of its rows changed — only
    * the non-shared files on each side are read and row-diffed. Cost
    * scales with the data the merges actually touched, not the table
    * size: the change feed of a 1%-dirty merge reads ~2% of the table.
    * (A key that moved between two rewritten files with an unchanged
    * value joins equal and drops out — the feed stays exact.) */
  def changeFeed(spark: SparkSession, tableRoot: String,
                 fromBatch: Long, toBatch: Long, key: String,
                 pointPruneMaxKeys: Int = CdcMergeSink.PointPruneMaxKeys): DataFrame = {
    val fromDir = resolveAsOf(tableRoot, fromBatch)
    val toDir = resolveAsOf(tableRoot, toBatch)
    // composite identity is the TABLE's property, discovered from the
    // manifest like every other consumer — the diff must join on the
    // full tuple or sibling rows sharing a leading value would
    // cross-match
    val keys = key +: MutableParquetTable.manifestMoreKeys(toDir)
    // schema inference costs IO — manifest-embedded schema when present,
    // and only when a side has no files of its own (the delta never does)
    lazy val schema = MutableParquetTable.manifestSchema(fromDir)
      .getOrElse(spark.read.parquet(fromDir).schema)
    // renamed columns: files on BOTH sides carry the same PHYSICAL names
    // (the rename is metadata-only), so the whole diff runs under the
    // CURRENT (to-side) logical names — the dropColumn precedent: the
    // feed follows the present table shape
    val renames = MutableParquetTable.manifestRenames(toDir)
    lazy val logicalSchema =
      if (renames.isEmpty) schema
      else MutableParquetTable.manifestSchema(toDir).getOrElse(schema)
    def readPaths(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logicalSchema)
      else if (renames.isEmpty) spark.read.parquet(paths: _*)
      else MutableParquetTable.readFilesLogical(spark, paths, logicalSchema,
        renames)
    if (fromDir == toDir)
      return rowDiff(readPaths(Nil), readPaths(Nil), keys)
    val fromFiles = snapshotFileMap(fromDir)
    val toFiles = snapshotFileMap(toDir)
    // DELETION TOMBSTONES: each side's sidecar subtracts from its reads
    // (a tombstoned row is logically absent), and keys tombstoned in the
    // after-state but live before are DELETES whose rows may sit in
    // SHARED files the file-diff never opens — fetch their before images
    // through the zone map (pruned to the holder files, delta-priced)
    val before0 = MutableParquetTable.applyTombstones(spark, fromDir,
      readPaths((fromFiles -- toFiles.keySet).values.toSeq.sorted), keys)
    val after = MutableParquetTable.applyTombstones(spark, toDir,
      readPaths((toFiles -- fromFiles.keySet).values.toSeq.sorted), keys)
    val before = MutableParquetTable.tombstoneDf(spark, toDir) match {
      case None => before0
      case Some(toTs) =>
        val newly = MutableParquetTable.tombstoneDf(spark, fromDir) match {
          case None => toTs
          case Some(fromTs) => toTs.join(broadcast(fromTs),
            keys.indices.map(i => toTs(s"__k$i") === fromTs(s"__k$i"))
              .reduce(_ && _),
            "left_anti")
        }
        val sharedPaths = (fromFiles.keySet intersect toFiles.keySet)
          .toSeq.sorted.map(fromFiles)
        // leading-key point prune against the before manifest bounds the
        // shared-file read to the holder files; the semi-join is exact.
        // The collect is CAPPED: it is bounded by the delta's distinct
        // leading keys, which a bulk tombstone batch can push to tens of
        // millions — past the cap we skip the prune and read all shared
        // files (the pre-prune behavior: more IO, still exact) instead of
        // materializing an unbounded key set on the driver.
        val leading = newly.select(col("__k0")).distinct()
          .limit(pointPruneMaxKeys + 1).collect().map(_.get(0)).toSeq
        val pruned =
          if (leading.isEmpty) Nil
          else if (leading.size > pointPruneMaxKeys) sharedPaths
          else MutableParquetTable
            .pruneManifestFilesPoints(fromDir, leading)
            .map(_._2.toSet)
            .map(keep => sharedPaths.filter(keep))
            .getOrElse(sharedPaths)
        val shared = readPaths(pruned)
        val extra = shared.join(broadcast(newly),
          keys.zipWithIndex.map { case (k, i) =>
            shared(k) === newly(s"__k$i") }.reduce(_ && _),
          "left_semi")
        before0.unionByName(extra)
    }
    rowDiff(before, after, keys)
  }

  /** Retention with REFERENCE COUNTING: drop committed versions older
    * than the newest `keepLast` (the base directory always stays), but a
    * data file physically inside a dropped version's dir survives as long
    * as ANY retained version's manifest still references it — reference
    * passthrough (the object-store mode) makes later snapshots point into
    * earlier dirs, so deleting a dropped dir wholesale would corrupt live
    * versions. Hard-linked chains need no protection (each snapshot holds
    * its own link; the OS refcounts bytes) and keep reclaiming exactly the
    * storage the dropped history exclusively owned.
    *
    * A dropped version is DECOMMITTED first (manifest removed — it
    * disappears from [[versions]] atomically) and then swept: unreferenced
    * files deleted, still-referenced files left in place. Earlier vacuums'
    * leftover dirs are re-swept every call, so files are reclaimed the
    * moment their last referencing version goes. As-of reads below the
    * retention horizon resolve to the base state. Returns dropped ids. */
  /** TIME-BASED retention vacuum: drop versions whose commit time is
    * older than `retainMillis`, always keeping at least `minKeepLast`
    * (the operational form — "keep 7 days of history" — of [[vacuum]]'s
    * count-based contract). Commit times are monotone along the chain
    * ([[graft.OptimisticCommit]] re-stamps on every re-aim), so the
    * cutoff is a suffix: this counts the in-retention suffix from the
    * manifests' `committedAtMs` and delegates to [[vacuum]], inheriting
    * its reference-counting, txn-marker retention and debris sweep. */
  def vacuumRetain(tableRoot: String, retainMillis: Long,
                   minKeepLast: Int = 1): Seq[Long] = {
    require(retainMillis >= 0, "retainMillis must be >= 0")
    val cutoff = System.currentTimeMillis() - retainMillis
    val all = versions(tableRoot)
    if (all.isEmpty) return Nil
    // monotone commit times → the in-window versions are a suffix,
    // found by the same O(log n) binary search startingTimestamp uses
    // (a daily retention job on a many-thousand-version table must not
    // do O(versions) driver manifest reads). Stampless pre-retention
    // manifests sort as -inf there: old (droppable), not pinned forever.
    val recent = graft.sources.GraftChangeFeed
      .versionAtOrAfter(tableRoot, cutoff) match {
      case Some(first) => all.length - all.indexOf(first)
      case None        => 0
    }
    vacuum(tableRoot, math.max(minKeepLast, recent))
  }

  def vacuum(tableRoot: String, keepLast: Int,
             txRetainMillis: Long = 24L * 3600 * 1000): Seq[Long] = {
    require(keepLast >= 1, "must retain at least the latest version")
    // abandoned writer staging dirs — optimistic-commit `.tx-` dirs and
    // the V2 batch/streaming sinks' `.staging-*` dirs (writer crashed
    // between stage and commit): invisible to readers, reclaimed after a
    // retention window long enough that no live writer still owns one
    if (Files.isDirectory(Paths.get(tableRoot))) {
      import scala.jdk.CollectionConverters._
      val cutoff = System.currentTimeMillis() - txRetainMillis
      val s = Files.list(Paths.get(tableRoot))
      val stale = try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".tx-") || n.startsWith(".staging-")
        }
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .toList
      finally s.close()
      stale.foreach(deleteRecursively)
    }
    val all = versions(tableRoot)
    val keep = all.takeRight(keepLast)
    val drop = all.dropRight(keepLast)
    val referenced: Set[String] = keep.flatMap { v =>
      val d = s"$tableRoot/v$v"
      MutableParquetTable.manifestFileNames(d).getOrElse(Nil)
        .map(n => MutableParquetTable.resolvePath(d, n))
    }.toSet
    // harvest txn markers BEFORE decommit: a dropped version may be the
    // only one carrying a streaming sink's newest (app, epoch) marker —
    // losing it would make a restarted query replay its last epoch (see
    // [[lastTxnEpoch]]); the sidecar carries each app's max forward
    val droppedTxns = drop.flatMap(v =>
      MutableParquetTable.manifestTxn(s"$tableRoot/v$v"))
    if (droppedTxns.nonEmpty) {
      val merged = (sidecarEpochs(tableRoot).toSeq ++ droppedTxns)
        .groupMapReduce(_._1)(_._2)(math.max)
      writeSidecar(tableRoot, merged)
    }
    // decommit first: versions() excludes the dir from then on, so a
    // crash mid-sweep leaves garbage files, never a corrupt version
    drop.foreach { v =>
      Files.deleteIfExists(Paths.get(s"$tableRoot/v$v",
        MutableParquetTable.ManifestName))
      // a persisted change feed follows its version's retention — note a
      // RUNNING changeFeedStream over vacuumed history may have already
      // consumed these files (the file source never re-lists processed
      // files, so the stream is unaffected)
      val feed = Paths.get(s"$tableRoot/_changes/v$v")
      if (Files.isDirectory(feed)) deleteRecursively(feed)
    }
    // sweep every non-committed version dir (just-dropped + leftovers of
    // earlier vacuums that were pinned by references at the time)
    import scala.jdk.CollectionConverters._
    val root = Paths.get(tableRoot)
    val sweep =
      if (!Files.exists(root)) Nil
      else {
        val s = Files.list(root)
        try s.iterator().asScala
          .filter(p => p.getFileName.toString.matches("v\\d+"))
          .filterNot(p => MutableParquetTable.isCommitted(p.toString))
          .toList
        finally s.close()
      }
    sweep.foreach { dir =>
      val s = Files.list(dir)
      val children = try s.iterator().asScala.toList finally s.close()
      val (pinned, deletable) = children.partition(p =>
        p.getFileName.toString.endsWith(".parquet") && referenced(p.toString))
      deletable.foreach(p =>
        if (Files.isDirectory(p)) deleteRecursively(p) else Files.delete(p))
      if (pinned.isEmpty) Files.delete(dir)
    }
    drop
  }

  /** Collapse a micro-batch to its FINAL mutation per key (last `seqCol`
    * wins — CDC streams carry multiple ops for one key within a batch).
    * `seqCol` must be unique per key within a batch; without one the
    * batch is required to already be key-unique. */
  private[graft] def collapse(batch: DataFrame, key: String,
                              seqCol: Option[String]): DataFrame =
    seqCol match {
      case None => batch
      case Some(seq) =>
        val w = Window.partitionBy(col(key)).orderBy(col(seq).desc)
        batch.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .drop("__rn", seq)
    }

  /** Apply one micro-batch. Idempotent in `batchId`: a committed
    * v<batchId> short-circuits (failure replay), an uncommitted one is
    * torn down and rebuilt. */
  def applyBatch(spark: SparkSession, batch: DataFrame, tableRoot: String,
                 key: String, opCol: String = "op",
                 seqCol: Option[String] = None, batchId: Long,
                 passthrough: MutableParquetTable.Passthrough =
                   MutableParquetTable.Link): Unit = {
    val target = s"$tableRoot/v$batchId"
    if (MutableParquetTable.isCommitted(target)) return
    if (Files.exists(Paths.get(target))) {
      // crashed half-apply: no manifest, so nothing ever read it — rebuild
      deleteRecursively(Paths.get(target))
    }
    val collapsed = collapse(batch, key, seqCol)
    if (collapsed.isEmpty) return // empty batch: keep the current snapshot
    val snap = latestSnapshot(tableRoot)
    // composite identity is a property of the TABLE, recorded in its
    // manifest — discovered here so every writer (SQL INSERT, DML rule,
    // streaming sink, facade commits) merges on the full tuple without
    // each call site threading it through
    val t = MutableParquetTable(spark, snap, key, passthrough,
      MutableParquetTable.manifestMoreKeys(snap))
    t.merge(collapsed, opCol, Some(target))
  }

  /** Attach the sink to a streaming mutation frame and start it. The
    * frame's schema must be the base table's schema plus `opCol`
    * ('upsert' | 'delete') and optionally `seqCol`. `afterBatch` runs on
    * the driver after each batch's snapshot commit (or no-op replay) —
    * the hook continuous view maintenance plugs into. */
  def start(mutations: DataFrame, tableRoot: String, key: String,
            opCol: String = "op", seqCol: Option[String] = None,
            checkpointDir: Option[String] = None,
            queryName: String = "graft-cdc-merge",
            afterBatch: Long => Unit = _ => (),
            passthrough: MutableParquetTable.Passthrough =
              MutableParquetTable.Link): StreamingQuery = {
    val spark = mutations.sparkSession
    val cp = checkpointDir.getOrElse(
      Files.createTempDirectory("graft-cdc-cp").toString)
    mutations.writeStream
      .queryName(queryName)
      .option("checkpointLocation", cp)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        applyBatch(spark, b, tableRoot, key, opCol, seqCol, id, passthrough)
        afterBatch(id)
      }
      .start()
  }
}
