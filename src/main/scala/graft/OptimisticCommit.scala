package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Manifest, MergeResult, MutableParquetTable}
import graft.streaming.CdcMergeSink

/** Outcome of one optimistic commit: the version it landed as, how many
  * merge attempts it took (1 = no contention), and the merge summary of
  * the attempt that won. `merge` is None for empty batches (nothing
  * committed). */
final case class ConcurrentCommit(version: Long, attempts: Int,
                                  rebases: Int,
                                  merge: Option[MergeResult])

/** Multi-writer OPTIMISTIC CONCURRENCY for the version chain.
  *
  * The single-writer commit path computed `next = latest + 1` and merged
  * straight into `root/v<next>` — two concurrent writers would race to
  * the same slot and the later manifest write would silently clobber the
  * earlier snapshot. This protocol makes `commit` safe under any number
  * of concurrent writers (threads or separate drivers on a shared
  * filesystem) with no locks and no wait-for-predecessor coupling:
  *
  *  1. STAGE — merge against the latest committed snapshot into a
  *     private `root/.tx-<uuid>` directory (invisible to readers: the
  *     version listing matches `v\d+` only). Merges by different writers
  *     run fully concurrent — contention costs nothing until publish.
  *     The staged dir is a complete snapshot INCLUDING its manifest, and
  *     it sits directly under the table root so both hard links (same
  *     filesystem) and `../vN/...` reference entries (same depth) are
  *     already in final form.
  *  2. PUBLISH — one atomic rename of the staged dir to `root/v<n>`,
  *     n = my base version + 1. The rename either wins the slot or
  *     fails because a competing commit won it first; because staged
  *     dirs carry their manifest, a published version is committed the
  *     instant it becomes visible. This is the protocol's only atomic
  *     primitive — on an object store swap it for a conditional PUT
  *     (if-none-match) of the manifest at the versioned key.
  *  3. On conflict — REBASE or RETRY. A competing commit advanced the
  *     head past my base, so my staged snapshot's passthrough inventory
  *     is stale. If the intervening commits provably touched a disjoint
  *     set of files ([[OptimisticCommit.tryRebase]]), the staged
  *     rewrite is still valid and re-publishing costs METADATA ONLY: a
  *     manifest rebuilt against the new head. Otherwise the staging dir
  *     is discarded and the merge re-runs against the new head —
  *     write-write conflicts on the same keys/files are inherently
  *     serial in a CoW table.
  *
  * Crash safety: a writer dying at any point leaves either a partial
  * `.tx-` dir (invisible; swept by [[CdcMergeSink.vacuum]] after a
  * retention window) or a fully committed version. There is no state a
  * crashed writer can leave that blocks other writers or corrupts a
  * reader — the slot-claim IS the commit.
  *
  * Serialization semantics: commits linearize in version order; each
  * version's snapshot is its batch applied to the PREDECESSOR version
  * (re-merge) or a provably-equivalent file swap (rebase). Overlapping
  * writers therefore see last-committer-wins per key, exactly as if they
  * had run sequentially in version order.
  *
  * The reference is single-process and single-writer by construction
  * (one ParquetRewriter per sorted file, README.md:45-48); multi-writer
  * commit coordination is what a shared 100 TB table needs on top. */
object OptimisticCommit {

  /** The next version slot is occupied by an UNCOMMITTED directory this
    * protocol did not produce (a crashed direct `applyBatch` target or
    * foreign debris) — publishing over it could destroy another writer's
    * in-progress work, so the commit refuses instead. */
  final class BlockedSlotException(msg: String) extends RuntimeException(msg)

  /** Commit `batch` as the table's next version, safe under concurrent
    * writers. Returns the landed version (or the current latest for an
    * empty batch) plus attempt telemetry. `testHookAfterStage` runs
    * between staging and publish — a deterministic seam for conflict
    * tests; production callers leave the default. `txnMarker` (writer
    * app id, epoch) is stamped into the committed manifest so a
    * streaming sink's replayed epoch is detectable
    * ([[graft.streaming.CdcMergeSink.lastTxnEpoch]]) — the marker
    * survives rebase (re-stamped before every publish attempt). */
  def commit(spark: SparkSession, tableRoot: String, key: String,
             batch: DataFrame, opCol: String = "op",
             seqCol: Option[String] = None,
             passthrough: MutableParquetTable.Passthrough =
               MutableParquetTable.Link,
             maxAttempts: Int = 20,
             testHookAfterStage: () => Unit = () => (),
             txnMarker: Option[(String, Long)] = None,
             feedPending: Boolean = false): ConcurrentCommit = {
    val collapsed = CdcMergeSink.collapse(batch, key, seqCol)
    if (collapsed.isEmpty)
      return ConcurrentCommit(
        CdcMergeSink.versions(tableRoot).lastOption.getOrElse(-1L), 0, 0, None)
    var attempts = 0
    var rebases = 0
    var staged: Option[Staged] = None
    try {
      while (attempts < maxAttempts) {
        attempts += 1
        val st = staged match {
          case Some(s) => s // a successful rebase re-publishes as-is
          case None =>
            val baseV = CdcMergeSink.versions(tableRoot).lastOption
            val baseDir = baseV.map(v => s"$tableRoot/v$v")
              .getOrElse(s"$tableRoot/base")
            val dir = s"$tableRoot/.tx-${
              java.util.UUID.randomUUID().toString.take(12)}"
            // the base manifest is read once and handed down: the handle,
            // the merge and its manifest writer all use this value
            val base = Manifest.read(baseDir)
            val t = MutableParquetTable.opened(spark, baseDir, key,
              passthrough, base)
            // a FAILING merge (bad batch, not a crash) must not leave
            // per-attempt staging debris behind for vacuum to find
            val mr = try t.mergeFrom(base, collapsed, opCol, Some(dir))
              catch { case e: Throwable => deleteQuietly(dir); throw e }
            Staged(dir, baseV, mr)
        }
        staged = Some(st)
        testHookAfterStage()
        // stamp before EVERY publish attempt: a rebase rewrites the
        // staged manifest and would otherwise drop the markers
        txnMarker.foreach { case (a, e) =>
          MutableParquetTable.annotateTxn(st.dir, a, e) }
        if (feedPending) MutableParquetTable.annotateFeedPending(st.dir)
        val target = st.baseVersion.getOrElse(-1L) + 1
        val targetDir = s"$tableRoot/v$target"
        if (tryPublish(st.dir, targetDir)) {
          staged = None
          return ConcurrentCommit(target, attempts, rebases,
            Some(st.merge.copy(snapshotDir = targetDir)))
        }
        // slot taken: with staged dirs publishing manifest-complete, any
        // committed v<target> means a competitor won the race; an
        // UNCOMMITTED v<target> was not made by this protocol — refuse
        val nowLast = CdcMergeSink.versions(tableRoot).lastOption
          .getOrElse(-1L)
        if (nowLast < target)
          throw new BlockedSlotException(
            s"$targetDir exists but is not a committed snapshot — a " +
              "crashed direct applyBatch target or foreign directory is " +
              "blocking the version chain; remove it (vacuum) and retry")
        // exactly-once under WRITER RACES, not just replays: a zombie
        // driver of the same streaming query (failover) may have
        // committed this very (app, epoch) while we were staged — the
        // pre-commit lastTxnEpoch check is check-then-act, so it must be
        // re-run atomically with every publish retry (the analog of
        // Delta's SetTransaction conflict check). Rebasing past the
        // winner and publishing a second marker would apply the epoch
        // twice.
        txnMarker.foreach { case (app, epoch) =>
          if (CdcMergeSink.lastTxnEpoch(tableRoot, app).exists(_ >= epoch))
            return ConcurrentCommit(nowLast, attempts, rebases, None)
        }
        staged = tryRebase(tableRoot, st, nowLast, key, passthrough)
        if (staged.isDefined) rebases += 1
        else deleteQuietly(st.dir) // re-merge from scratch
      }
      throw new IllegalStateException(
        s"commit on $tableRoot lost the publish race $maxAttempts times — " +
          "pathological contention; raise maxAttempts or serialize writers")
    } finally staged.foreach(s => deleteQuietly(s.dir))
  }

  /** Commit `batch` as the table's next version REPLACING all current
    * content — the storage side of SQL `INSERT OVERWRITE` and
    * `TRUNCATE TABLE`. The staged snapshot is written key-sorted with
    * disjoint per-file ranges (the layout invariant every later merge
    * routes by), manifest-complete, then published with the same atomic
    * slot-claim as [[commit]]. Unlike a merge, the content does not
    * depend on the base version, so a lost publish race needs NO rebase
    * or re-merge: the same staged dir simply re-aims at the new head's
    * successor slot. An empty batch commits an empty snapshot (truncate).
    *
    * `numFiles` 0 sizes the output from the batch plan's statistics at
    * ~128 MB per file (exact when the batch reads staged parquet, as the
    * V2 write path does); pass it explicitly to pin the layout. */
  def replace(spark: SparkSession, tableRoot: String, key: String,
              batch: DataFrame, numFiles: Int = 0,
              maxAttempts: Int = 20,
              txnMarker: Option[(String, Long)] = None,
              testHookAfterStage: () => Unit = () => ()): Long = {
    val latest = CdcMergeSink.latestSnapshot(tableRoot)
    val head = Manifest.read(latest).getOrElse(Manifest(key))
    val moreKeys = head.moreKeys
    // a bucketed table's replace re-buckets: the layout is the table's
    // join contract, so INSERT OVERWRITE must not silently drop it
    val bucketSpec = head.buckets
    val dir = s"$tableRoot/.tx-${
      java.util.UUID.randomUUID().toString.take(12)}"
    // CHECK constraints and DEFAULT/GENERATED column contracts survive
    // a replace (they are the table's write contract, not a property of
    // its content) and gate/fill the new content
    var checks = head.checks
    val defaults0 = head.defaults
    val generated0 = head.generated
    val batchC = graft.sources.GraftDefaults.applyAndEnforce(batch,
      defaults0, generated0, head.schema, None,
      s"INSERT OVERWRITE of $tableRoot")
    val emptyBatch = batchC.isEmpty
    if (emptyBatch) {
      MutableParquetTable.commitEmpty(dir, key, batchC.schema, moreKeys,
        bucketSpec, checks, defaults0, generated0)
    } else {
      if (checks.nonEmpty)
        graft.sources.GraftChecks.enforce(batchC, checks,
          s"INSERT OVERWRITE of $tableRoot")
      bucketSpec match {
        case Some(nb) =>
          graft.sources.GraftBucket.writeBucketed(batchC, dir, key,
            moreKeys, nb)
        case None =>
          val n =
            if (numFiles > 0) numFiles
            else {
              val bytes = batchC.queryExecution.optimizedPlan.stats.sizeInBytes
              val target = BigInt(128L * 1024 * 1024)
              ((bytes + target - 1) / target).min(BigInt(4096)).max(BigInt(1)).toInt
            }
          graft.sources.ParquetTable.withMicrosTimestamps(spark) {
            graft.sources.ParquetTable.writeSortedBy(batchC, dir,
              key +: moreKeys, n)
          }
      }
      MutableParquetTable(spark, latest, key, moreKeys = moreKeys)
        // replace content is entirely new bytes written through the
        // batch schema — no pre-drop file survives, blocklist clears
        .commitManifest(dir, Some(batchC.schema), physicalRewrite = true)
    }
    // re-aims only re-stamp committedAtMs, never the txn fields, so one
    // marker stamp up front is durable across publish attempts
    txnMarker.foreach { case (a, e) =>
      MutableParquetTable.annotateTxn(dir, a, e) }
    var attempts = 0
    var syncedFrom = latest
    testHookAfterStage()
    try {
      while (attempts < maxAttempts) {
        attempts += 1
        val target =
          CdcMergeSink.versions(tableRoot).lastOption.getOrElse(-1L) + 1
        val targetDir = s"$tableRoot/v$target"
        // a racing ALTER ... CONSTRAINT moved the table contract while
        // we were staging (or since the last attempt) — carry and
        // enforce it BEFORE claiming the slot, or it silently vanishes
        // from the chain. Checked against the PUBLISH base, not just on
        // lost races: the drift window opens the moment `checks` was
        // read above.
        val headDir =
          if (target == 0) s"$tableRoot/base" else s"$tableRoot/v${target - 1}"
        if (headDir != syncedFrom) {
          checks = resyncChecks(headDir, dir, checks,
            if (emptyBatch) None else Some(spark.read.parquet(dir)),
            s"INSERT OVERWRITE of $tableRoot")
          // a DEFAULT/GENERATED contract change affects CONTENT (the
          // staged files were filled under the old contract), so unlike
          // checks it cannot be re-stamped — fail the replace instead
          if (graft.sources.GraftDefaults.manifestDefaults(headDir)
                != defaults0 ||
              graft.sources.GraftDefaults.manifestGenerated(headDir)
                != generated0)
            throw new IllegalStateException(
              s"concurrent DEFAULT/GENERATED column change on $tableRoot " +
                "during INSERT OVERWRITE — re-run the statement under " +
                "the new contract")
          syncedFrom = headDir
        }
        if (tryPublish(dir, targetDir)) return target
        val nowLast = CdcMergeSink.versions(tableRoot).lastOption
          .getOrElse(-1L)
        if (nowLast < target)
          throw new BlockedSlotException(
            s"$targetDir exists but is not a committed snapshot — a " +
              "crashed direct applyBatch target or foreign directory is " +
              "blocking the version chain; remove it (vacuum) and retry")
        // same writer-race guard as [[commit]]: a zombie twin of this
        // streaming query may have published this epoch's replace while
        // we were staged — re-applying it would double the epoch
        txnMarker.foreach { case (app, epoch) =>
          if (CdcMergeSink.lastTxnEpoch(tableRoot, app).exists(_ >= epoch))
            return nowLast
        }
        // the winner's stamp is newer than this staged one — re-stamp so
        // commit times stay monotone along the chain (timestamp travel /
        // feed binary search). The txn marker fields are untouched.
        MutableParquetTable.restampCommittedAt(dir)
      }
      throw new IllegalStateException(
        s"replace on $tableRoot lost the publish race $maxAttempts times — " +
          "pathological contention; raise maxAttempts or serialize writers")
    } finally deleteQuietly(dir)
  }

  /** Re-read the publish base's CHECK contract and, when it drifted from
    * `current`, enforce the newly-added checks over the staged content
    * and restamp the staged manifest. A replace's CONTENT is
    * base-independent, but its CONTRACT is not: publishing past a racing
    * `ALTER TABLE ADD CONSTRAINT` with the stale checks map would erase
    * the constraint from the chain forever, unvalidated — and the drift
    * window opens the moment the contract is first read, not only on a
    * lost rename. [[tryRebase]] declines on the same drift; replace can
    * re-validate instead because the staged content is self-contained.
    * Returns the contract now carried (a violation throws, failing the
    * replace). */
  private def resyncChecks(headDir: String,
                           stagedDir: String,
                           current: Map[String, String],
                           content: => Option[DataFrame],
                           context: String): Map[String, String] = {
    val head = graft.sources.GraftChecks.manifestChecks(headDir)
    if (head == current) return current
    val added = head.filterNot { case (n, e) => current.get(n).contains(e) }
    if (added.nonEmpty) content.foreach(df =>
      graft.sources.GraftChecks.enforce(df, added,
        s"$context (constraint added concurrently)"))
    graft.sources.GraftChecks.annotateChecks(stagedDir, head)
    head
  }

  /** Test/diagnostic seam: whether the most recent V2 replace published
    * its executor-staged files DIRECTLY (single materialization) or fell
    * back to the re-sort path. */
  @volatile private[graft] var lastReplaceDirect = false

  /** INSERT OVERWRITE in ONE materialization. The V2 write declared
    * ordered distribution ([[graft.sources.GraftWrite]]), so the
    * executor-staged files should already be key-disjoint and key-sorted
    * — PROVE it from their footers (one sweep of the new files only),
    * enforce the table's CHECK constraints over them, write the manifest
    * INTO the staging dir and publish it by the same atomic slot claim
    * every commit uses. Returns false — caller falls back to the legacy
    * re-read + re-sort replace — when the proof fails: overlapping
    * ranges (a planner that did not honor the distribution) or
    * stat-less files. The replace contract holds either way: checks
    * carried and enforced, dropped-column blocklist cleared (all-new
    * files), bucketed layouts decline upstream. */
  def replaceStagedDirect(spark: SparkSession, tableRoot: String,
                          key: String, moreKeysDeclared: Seq[String],
                          stagingDir: String, staged: Seq[String],
                          schema: org.apache.spark.sql.types.StructType,
                          insertIntoEmpty: Boolean = false,
                          testHookAfterStage: () => Unit = () => ()): Boolean = {
    lastReplaceDirect = false
    val latest = CdcMergeSink.latestSnapshot(tableRoot)
    MutableParquetTable.requireFeaturesSupported(latest)
    val head = Manifest.read(latest)
    val moreKeys = head.map(_.moreKeys).filter(_.nonEmpty)
      .getOrElse(moreKeysDeclared)
    if (insertIntoEmpty) {
      // the append form is valid only while the table is STILL empty —
      // a concurrent insert since analysis means this batch must merge,
      // not replace. Re-checked here; the single no-retry slot attempt
      // below closes the remaining race window.
      val stillEmpty = head.exists(_.files.isEmpty)
      if (!stillEmpty) return false
    }
    val ranges =
      graft.sources.ParquetStats.fileKeyRangesTypedFor(spark, staged, key)
    if (ranges.size != staged.size) return false // stat-less file(s)
    val sorted = ranges.sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    val overlaps = sorted.iterator.zip(sorted.iterator.drop(1)).exists {
      case (a, b) =>
        graft.sources.KeyBytes.compare(b.minBytes, a.maxBytes) <= 0
    }
    if (overlaps) return false
    // NOTE on duplicate batch keys (out-of-contract data): the merge
    // path this bypasses does NOT collapse them either without a
    // seqColumn (MergeOps.applyMutationsMulti inserts the batch as-is
    // into an empty base), so semantics are identical. A duplicate
    // STRADDLING two staged files shows up as a range overlap and falls
    // back via the proof above.
    val context =
      s"${if (insertIntoEmpty) "INSERT INTO (empty)" else "INSERT OVERWRITE"} of $tableRoot"
    var checks = head.map(_.checks).getOrElse(Map.empty)
    if (checks.nonEmpty)
      graft.sources.GraftChecks.enforce(
        spark.read.schema(schema).parquet(staged: _*), checks, context)
    // the SQL INSERT path supplies every column by the time rows reach
    // storage, so GENERATED drift is validated here (fill-on-omission
    // applies on the DataFrame write surfaces); the contract is carried
    // into the manifest below
    val defaultsD = head.map(_.defaults).getOrElse(Map.empty)
    val generatedD = head.map(_.generated).getOrElse(Map.empty)
    if (generatedD.nonEmpty)
      graft.sources.GraftDefaults.applyAndEnforce(
        spark.read.schema(schema).parquet(staged: _*), Map.empty,
        generatedD, Some(schema), None, context)
    // crashed-task debris: a task that died mid-write (JVM kill — its
    // abort() never ran) left a partial/duplicate file in the staging
    // dir that no commit message names. The manifest below lists only
    // committed files, but the publish renames the WHOLE dir — sweep
    // non-committed data files first, or they ship into the published
    // snapshot (corrupting the direct spark.read.parquet(dir) view and
    // leaking bytes no vacuum ever reclaims).
    locally {
      import scala.jdk.CollectionConverters._
      val committed = staged.map(f => f.split('/').last).toSet
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(stagingDir))
      try ls.iterator().asScala
        .filter(p => MutableParquetTable.isDataFileName(p.getFileName.toString)
          && !committed(p.getFileName.toString))
        .foreach(java.nio.file.Files.delete)
      finally ls.close()
    }
    val bytes = staged.map(f => f.split('/').last ->
      java.nio.file.Files.size(java.nio.file.Paths.get(f))).toMap
    Manifest.write(stagingDir, Manifest(key,
      keyType = Manifest.keyTypeOf(sorted.headOption.map(_.min)),
      moreKeys = moreKeys,
      files = sorted.map { r =>
        val n = r.file.split('/').last
        Manifest.entry(n, r, bytes.get(n))
      },
      schema = Some(schema),
      committedAtMs = Some(System.currentTimeMillis()),
      checks = checks, defaults = defaultsD, generated = generatedD))
    var attempts = 0
    var syncedFrom = latest
    testHookAfterStage()
    while (attempts < 20) {
      attempts += 1
      val target =
        CdcMergeSink.versions(tableRoot).lastOption.getOrElse(-1L) + 1
      // the table CONTRACT may have moved even though the content is
      // base-independent: a racing ALTER ... ADD CONSTRAINT must gate
      // this content and survive into this manifest, or it is silently
      // erased from the chain forever. Checked against the publish base
      // on EVERY attempt (the drift window opens at the checks read
      // above, not at a lost rename).
      val headDir =
        if (target == 0) s"$tableRoot/base" else s"$tableRoot/v${target - 1}"
      if (headDir != syncedFrom) {
        // an empty-insert that raced ANY commit falls back to the merge
        // below anyway; only full replaces re-validate and re-aim
        if (insertIntoEmpty) return false
        checks = resyncChecks(headDir, stagingDir, checks,
          Some(spark.read.schema(schema).parquet(staged: _*)), context)
        // a DEFAULT/GENERATED contract drift falls back to the legacy
        // replace, which re-reads the new head's contract
        if (graft.sources.GraftDefaults.manifestDefaults(headDir)
              != defaultsD ||
            graft.sources.GraftDefaults.manifestGenerated(headDir)
              != generatedD)
          return false
        syncedFrom = headDir
      }
      if (tryPublish(stagingDir, s"$tableRoot/v$target")) {
        lastReplaceDirect = true
        return true
      }
      // a lost race invalidates the EMPTINESS the append form proved —
      // the batch must merge against whatever won. Replace semantics
      // (the content IS the next state regardless of the head) re-aim.
      if (insertIntoEmpty) return false
      val nowLast = CdcMergeSink.versions(tableRoot).lastOption
        .getOrElse(-1L)
      if (nowLast < target)
        throw new BlockedSlotException(
          s"$tableRoot/v$target exists but is not a committed snapshot — " +
            "remove it (vacuum) and retry")
      // the winner's stamp is newer — keep commit times monotone
      MutableParquetTable.restampCommittedAt(stagingDir)
    }
    throw new IllegalStateException(
      s"direct replace on $tableRoot lost the publish race 20 times — " +
        "pathological contention; serialize writers")
  }

  /** Commit the table's next version whose LOGICAL STATE is exactly that
    * of `toVersion` (−1 = the base snapshot) — rollback as a FORWARD
    * commit, the engine's `RESTORE` (Delta `RESTORE TABLE ... VERSION AS
    * OF` parity). Metadata-priced at any table size: the staged snapshot
    * is one manifest whose entries reference the target's physical files
    * in place ([[MutableParquetTable.stageRestoreManifest]]) — a 100 TB
    * rollback writes no data bytes. History is preserved, not rewritten:
    * every prior version (including the ones being undone) stays
    * readable via time travel, and vacuum reference-counts the restored
    * files like any other referenced snapshot. Publishes with the same
    * atomic slot-claim as [[commit]]; like [[replace]], the content does
    * not depend on the base version, so a lost race just re-aims the
    * same staged dir at the new head's successor slot. */
  def restore(spark: SparkSession, tableRoot: String, toVersion: Long,
              maxAttempts: Int = 20): Long = {
    val targetDir =
      if (toVersion < 0) s"$tableRoot/base"
      else {
        val vs = CdcMergeSink.versions(tableRoot)
        require(vs.contains(toVersion),
          s"cannot restore $tableRoot to v$toVersion — committed versions: " +
            s"base${vs.map(v => s", v$v").mkString}")
        s"$tableRoot/v$toVersion"
      }
    val dir = s"$tableRoot/.tx-${
      java.util.UUID.randomUUID().toString.take(12)}"
    MutableParquetTable.stageRestoreManifest(dir, targetDir)
    var attempts = 0
    try {
      while (attempts < maxAttempts) {
        attempts += 1
        val target =
          CdcMergeSink.versions(tableRoot).lastOption.getOrElse(-1L) + 1
        val targetSlot = s"$tableRoot/v$target"
        if (tryPublish(dir, targetSlot)) return target
        val nowLast = CdcMergeSink.versions(tableRoot).lastOption
          .getOrElse(-1L)
        if (nowLast < target)
          throw new BlockedSlotException(
            s"$targetSlot exists but is not a committed snapshot — a " +
              "crashed direct applyBatch target or foreign directory is " +
              "blocking the version chain; remove it (vacuum) and retry")
        // keep commit times monotone across re-aims (see [[replace]])
        MutableParquetTable.restampCommittedAt(dir)
      }
      throw new IllegalStateException(
        s"restore on $tableRoot lost the publish race $maxAttempts times " +
          "— pathological contention; raise maxAttempts or serialize writers")
    } finally deleteQuietly(dir)
  }

  /** Commit a zone-map `DELETE WHERE` as the table's next version
    * ([[graft.sources.MutableParquetTable.deleteWhere]]): files the
    * manifest proves all-matching are dropped, none-matching files pass
    * through, only the undecidable remainder is rewritten. Restaged per
    * publish attempt (the classification is against the base snapshot,
    * so a lost race invalidates it — and restaging is cheap: metadata
    * plus at most the boundary files), which makes it safe under
    * concurrent writers like [[commit]]. Returns (version, summary). */
  def deleteWhere(spark: SparkSession, tableRoot: String, key: String,
                  cond: org.apache.spark.sql.Column,
                  passthrough: graft.sources.MutableParquetTable.Passthrough =
                    graft.sources.MutableParquetTable.Link,
                  maxAttempts: Int = 20)
      : (Long, graft.sources.MergeResult) = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val baseV = CdcMergeSink.versions(tableRoot).lastOption
      val latest = baseV.map(v => s"$tableRoot/v$v")
        .getOrElse(s"$tableRoot/base")
      val moreKeys = MutableParquetTable.manifestMoreKeys(latest)
      val dir = s"$tableRoot/.tx-${
        java.util.UUID.randomUUID().toString.take(12)}"
      val res = new MutableParquetTable(spark, latest, key, passthrough,
        moreKeys).deleteWhere(cond, dir)
      val target = baseV.getOrElse(-1L) + 1
      val targetDir = s"$tableRoot/v$target"
      if (tryPublish(dir, targetDir))
        return (target, res.copy(snapshotDir = targetDir))
      deleteQuietly(dir)
      val nowLast = CdcMergeSink.versions(tableRoot).lastOption
        .getOrElse(-1L)
      if (nowLast < target)
        throw new BlockedSlotException(
          s"$targetDir exists but is not a committed snapshot — " +
            "remove it (vacuum) and retry")
    }
    throw new IllegalStateException(
      s"deleteWhere on $tableRoot lost the publish race $maxAttempts " +
        "times — pathological contention; raise maxAttempts or serialize writers")
  }

  /** Commit a TOMBSTONE delete as the table's next version
    * ([[graft.sources.MutableParquetTable.deleteKeysTombstone]]): every
    * data file passes through, only the delta-sized tombstone sidecar
    * and the manifest are written — a scattered key-delete at METADATA
    * cost. Restaged per publish attempt (the sidecar folds into the
    * base's current set, so a lost race invalidates it — and restaging
    * is sidecar-sized). Returns (version, summary). */
  def deleteKeysTombstone(spark: SparkSession, tableRoot: String, key: String,
                          deleteKeys: DataFrame,
                          passthrough: graft.sources.MutableParquetTable.Passthrough =
                            graft.sources.MutableParquetTable.Link,
                          maxAttempts: Int = 20)
      : (Long, graft.sources.MergeResult) = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val baseV = CdcMergeSink.versions(tableRoot).lastOption
      val latest = baseV.map(v => s"$tableRoot/v$v")
        .getOrElse(s"$tableRoot/base")
      val moreKeys = MutableParquetTable.manifestMoreKeys(latest)
      val dir = s"$tableRoot/.tx-${
        java.util.UUID.randomUUID().toString.take(12)}"
      val res = new MutableParquetTable(spark, latest, key, passthrough,
        moreKeys).deleteKeysTombstone(deleteKeys, dir)
      val target = baseV.getOrElse(-1L) + 1
      val targetDir = s"$tableRoot/v$target"
      if (tryPublish(dir, targetDir))
        return (target, res.copy(snapshotDir = targetDir))
      deleteQuietly(dir)
      val nowLast = CdcMergeSink.versions(tableRoot).lastOption
        .getOrElse(-1L)
      if (nowLast < target)
        throw new BlockedSlotException(
          s"$targetDir exists but is not a committed snapshot — " +
            "remove it (vacuum) and retry")
    }
    throw new IllegalStateException(
      s"tombstone delete on $tableRoot lost the publish race $maxAttempts " +
        "times — pathological contention; raise maxAttempts or serialize writers")
  }

  /** Commit a zone-map `UPDATE ... WHERE` as the table's next version
    * ([[graft.sources.MutableParquetTable.updateWhere]]): proven-clean
    * files pass through, intersecting files rewrite in place with the
    * CASE projection. Restaged per publish attempt like [[deleteWhere]].
    * Returns (version, summary). */
  def updateWhere(spark: SparkSession, tableRoot: String, key: String,
                  cond: org.apache.spark.sql.Column,
                  sets: Seq[(String, org.apache.spark.sql.Column)],
                  passthrough: graft.sources.MutableParquetTable.Passthrough =
                    graft.sources.MutableParquetTable.Link,
                  maxAttempts: Int = 20)
      : (Long, graft.sources.MergeResult) = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val baseV = CdcMergeSink.versions(tableRoot).lastOption
      val latest = baseV.map(v => s"$tableRoot/v$v")
        .getOrElse(s"$tableRoot/base")
      val moreKeys = MutableParquetTable.manifestMoreKeys(latest)
      val dir = s"$tableRoot/.tx-${
        java.util.UUID.randomUUID().toString.take(12)}"
      val res = new MutableParquetTable(spark, latest, key, passthrough,
        moreKeys).updateWhere(cond, sets, dir)
      val target = baseV.getOrElse(-1L) + 1
      val targetDir = s"$tableRoot/v$target"
      if (tryPublish(dir, targetDir))
        return (target, res.copy(snapshotDir = targetDir))
      deleteQuietly(dir)
      val nowLast = CdcMergeSink.versions(tableRoot).lastOption
        .getOrElse(-1L)
      if (nowLast < target)
        throw new BlockedSlotException(
          s"$targetDir exists but is not a committed snapshot — " +
            "remove it (vacuum) and retry")
    }
    throw new IllegalStateException(
      s"updateWhere on $tableRoot lost the publish race $maxAttempts " +
        "times — pathological contention; raise maxAttempts or serialize writers")
  }

  /** Commit a SCHEMA CHANGE as the table's next version with ZERO data
    * IO: the staged snapshot references every current file in place
    * ([[MutableParquetTable.stageSchemaChange]] — the Reference
    * passthrough form) under the new schema. Restaged per publish
    * attempt (the inventory is the conflict surface and restaging is
    * pure metadata), so it is safe under concurrent writers like
    * [[commit]]. This is `ALTER TABLE ADD COLUMN` at 100 TB: cost is one
    * manifest rewrite, never a table rewrite. */
  def commitSchema(tableRoot: String,
                   newSchema: org.apache.spark.sql.types.StructType,
                   maxAttempts: Int = 20,
                   recordDropped: Seq[String] = Nil,
                   expectedSchema: Option[org.apache.spark.sql.types.StructType] = None,
                   expectedChecks: Option[Map[String, String]] = None,
                   newRenames: Option[Map[String, String]] = None,
                   recordWidened: Seq[String] = Nil,
                   stripDims: Seq[String] = Nil): Long = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val baseV = CdcMergeSink.versions(tableRoot).lastOption
      val latest = baseV.map(v => s"$tableRoot/v$v")
        .getOrElse(s"$tableRoot/base")
      // drift guards (the commitChecks expectedChecks pattern): the
      // caller computed `newSchema` and ran its guards against a head it
      // read BEFORE this loop. Restaging that result onto a head whose
      // schema moved (a concurrent ADD COLUMNS / merge evolution) would
      // silently ERASE the concurrently-added column — guardResurrected
      // cannot catch it, the column was never dropped. A concurrently
      // added CHECK referencing a column this change drops would commit
      // as a ghost contract failing every later write. Fail instead;
      // the caller re-reads and re-derives.
      expectedSchema.foreach { exp =>
        val head = MutableParquetTable.manifestSchema(latest)
        if (head.exists(_ != exp))
          throw new IllegalStateException(
            s"concurrent schema change on $tableRoot (this change was " +
              s"computed against ${exp.fieldNames.mkString("[", ",", "]")}, " +
              s"head now carries ${head.map(_.fieldNames.mkString("[", ",", "]"))
                .getOrElse("<none>")}) — re-read the table and retry")
      }
      expectedChecks.foreach { exp =>
        val headChecks = graft.sources.GraftChecks.manifestChecks(latest)
        if (headChecks != exp)
          throw new IllegalStateException(
            s"concurrent CHECK-constraint change on $tableRoot (this " +
              s"schema change was validated against ${exp.keySet.toSeq.sorted
                .mkString("{", ",", "}")}, head now declares ${headChecks
                .keySet.toSeq.sorted.mkString("{", ",", "}")}) — re-read " +
              "the table and retry")
      }
      val dir = s"$tableRoot/.tx-${
        java.util.UUID.randomUUID().toString.take(12)}"
      MutableParquetTable.stageSchemaChange(latest, dir, newSchema,
        recordDropped, newRenames, recordWidened, stripDims)
      val target = baseV.getOrElse(-1L) + 1
      if (tryPublish(dir, s"$tableRoot/v$target")) return target
      deleteQuietly(dir)
      val nowLast = CdcMergeSink.versions(tableRoot).lastOption
        .getOrElse(-1L)
      if (nowLast < target)
        throw new BlockedSlotException(
          s"$tableRoot/v$target exists but is not a committed snapshot — " +
            "remove it (vacuum) and retry")
    }
    throw new IllegalStateException(
      s"schema change on $tableRoot lost the publish race $maxAttempts " +
        "times — pathological contention; raise maxAttempts or serialize writers")
  }

  /** Commit a CHECK-CONSTRAINT change (add or drop) as the table's next
    * version with ZERO data IO — the staged snapshot references every
    * current file in place under the new `checks` set. The caller is
    * responsible for having VALIDATED a newly added check against the
    * current table content (one scan, [[graft.GraftTable.addCheck]]);
    * this publishes the metadata. Restaged per publish attempt, safe
    * under concurrent writers like [[commitSchema]] — with two guards
    * the plain restage would miss:
    *
    *  - `validatedVersion`/`revalidate`: rows committed CONCURRENTLY by
    *    a data writer were only checked against the OLD contract, so a
    *    lost race onto a moved base re-runs the caller's validation scan
    *    against the new head before staging — otherwise a table could
    *    declare a check its rows violate, silently and permanently (the
    *    "existing rows satisfy checks by induction" invariant every
    *    later write trusts).
    *  - `expectedChecks`: a concurrent CONSTRAINT change (another
    *    add/drop winning a slot first) would be stomped by restaging the
    *    caller's stale target set; detected and failed instead. */
  def commitChecks(tableRoot: String, checks: Map[String, String],
                   maxAttempts: Int = 20,
                   validatedVersion: Option[Long] = None,
                   revalidate: Long => Unit = _ => (),
                   expectedChecks: Option[Map[String, String]] = None): Long = {
    var attempts = 0
    var validatedAt = validatedVersion
    while (attempts < maxAttempts) {
      attempts += 1
      val baseV = CdcMergeSink.versions(tableRoot).lastOption
      val latest = baseV.map(v => s"$tableRoot/v$v")
        .getOrElse(s"$tableRoot/base")
      expectedChecks.foreach { exp =>
        val headChecks = graft.sources.GraftChecks.manifestChecks(latest)
        if (headChecks != exp)
          throw new IllegalStateException(
            s"concurrent CHECK-constraint change on $tableRoot (this " +
              s"change was computed against ${exp.keySet.toSeq.sorted
                .mkString("{", ",", "}")}, head now declares " +
              s"${headChecks.keySet.toSeq.sorted.mkString("{", ",", "}")}" +
              ") — re-read the table and retry")
      }
      validatedAt.foreach { v =>
        val now = baseV.getOrElse(-1L)
        if (now != v) { revalidate(now); validatedAt = Some(now) }
      }
      val dir = s"$tableRoot/.tx-${
        java.util.UUID.randomUUID().toString.take(12)}"
      graft.sources.GraftChecks.stageChecksChange(latest, dir, checks)
      val target = baseV.getOrElse(-1L) + 1
      if (tryPublish(dir, s"$tableRoot/v$target")) return target
      deleteQuietly(dir)
      val nowLast = CdcMergeSink.versions(tableRoot).lastOption
        .getOrElse(-1L)
      if (nowLast < target)
        throw new BlockedSlotException(
          s"$tableRoot/v$target exists but is not a committed snapshot — " +
            "remove it (vacuum) and retry")
    }
    throw new IllegalStateException(
      s"constraint change on $tableRoot lost the publish race " +
        s"$maxAttempts times — pathological contention; raise " +
        "maxAttempts or serialize writers")
  }

  /** Commit a DEFAULT/GENERATED column-contract change as a
    * METADATA-ONLY version — [[commitChecks]]' protocol for the
    * [[graft.sources.GraftDefaults]] maps: concurrent contract drift
    * fails the statement, a concurrent DATA commit triggers
    * `revalidate` (declaring a column GENERATED validated existing rows
    * against a base that just moved). */
  def commitColumnContracts(tableRoot: String,
                            defaults: Map[String, String],
                            generated: Map[String, String],
                            maxAttempts: Int = 20,
                            validatedVersion: Option[Long] = None,
                            revalidate: Long => Unit = _ => (),
                            expected: Option[(Map[String, String],
                              Map[String, String])] = None): Long = {
    var attempts = 0
    var validatedAt = validatedVersion
    while (attempts < maxAttempts) {
      attempts += 1
      val baseV = CdcMergeSink.versions(tableRoot).lastOption
      val latest = baseV.map(v => s"$tableRoot/v$v")
        .getOrElse(s"$tableRoot/base")
      expected.foreach { case (expD, expG) =>
        val headD = graft.sources.GraftDefaults.manifestDefaults(latest)
        val headG = graft.sources.GraftDefaults.manifestGenerated(latest)
        if (headD != expD || headG != expG)
          throw new IllegalStateException(
            s"concurrent DEFAULT/GENERATED column change on $tableRoot — " +
              "re-read the table and retry")
      }
      validatedAt.foreach { v =>
        val now = baseV.getOrElse(-1L)
        if (now != v) { revalidate(now); validatedAt = Some(now) }
      }
      val dir = s"$tableRoot/.tx-${
        java.util.UUID.randomUUID().toString.take(12)}"
      graft.sources.GraftDefaults.stageDefaultsChange(latest, dir,
        defaults, generated)
      val target = baseV.getOrElse(-1L) + 1
      if (tryPublish(dir, s"$tableRoot/v$target")) return target
      deleteQuietly(dir)
      val nowLast = CdcMergeSink.versions(tableRoot).lastOption
        .getOrElse(-1L)
      if (nowLast < target)
        throw new BlockedSlotException(
          s"$tableRoot/v$target exists but is not a committed snapshot — " +
            "remove it (vacuum) and retry")
    }
    throw new IllegalStateException(
      s"column-contract change on $tableRoot lost the publish race " +
        s"$maxAttempts times — pathological contention; raise " +
        "maxAttempts or serialize writers")
  }

  /** A staged-but-unpublished snapshot: its dir, the version it was
    * merged against (None = the base snapshot), and the merge summary. */
  private final case class Staged(dir: String, baseVersion: Option[Long],
                                  merge: MergeResult)

  /** Atomic slot claim. True = this staged dir is now the committed
    * version. False = the slot is already occupied (conflict). Errors
    * that are not slot-occupancy propagate.
    *
    * Before the rename, the staged stamp is CLAMPED to the predecessor
    * slot's commit time ([[MutableParquetTable.clampCommittedAt]]): a
    * multi-process writer with a lagging clock can win its first attempt
    * and would otherwise publish a non-monotone `committedAtMs`, which
    * breaks the binary search behind timestamp travel / change-feed
    * resolution and makes retention vacuum undercount recent versions.
    * Centralized here so every publish path (merge, replace, schema,
    * checks, restore, delete, update) inherits the invariant. */
  private def tryPublish(staging: String, target: String): Boolean = {
    "^(.*)/v(\\d+)$".r.findFirstMatchIn(target).foreach { m =>
      val n = m.group(2).toLong
      val head =
        if (n == 0) s"${m.group(1)}/base" else s"${m.group(1)}/v${n - 1}"
      MutableParquetTable.clampCommittedAt(staging, head)
    }
    try {
      Files.move(Paths.get(staging), Paths.get(target),
        StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.nio.file.DirectoryNotEmptyException => false
      case e: java.nio.file.FileSystemException
          if Files.exists(Paths.get(target)) => false
    }
  }

  /** Metadata-only conflict resolution: when the intervening commits
    * provably touched a DISJOINT set of files, this writer's staged
    * rewrite is still exactly what a re-merge against the new head would
    * produce — so instead of re-running the merge job, rebuild the staged
    * manifest against the new head's inventory: keep every new-head file
    * except the ones this merge rewrote, plus this merge's outputs. Zero
    * data jobs; file ops are at most per-file links.
    *
    * Preconditions (any miss → None → re-merge; all conservative):
    *  - both manifests fully ranged (no stat-less entries), same key,
    *    same composite identity, byte-identical schema, no dim zone maps
    *    (a re-merge recomputes those correctly);
    *  - every file this merge REWROTE survives by name into the new head
    *    — file names are content identity (passthrough preserves them,
    *    rewrites mint fresh part-UUIDs), so name survival proves no
    *    intervening commit touched any row this merge read;
    *  - the key-range envelopes of (new-head files we keep) and (this
    *    merge's outputs) are pairwise disjoint — preserves the
    *    disjoint-range layout invariant routing depends on, and catches
    *    gap-expansion collisions (two merges growing adjacent files into
    *    the same key gap). */
  private def tryRebase(tableRoot: String, st: Staged, newLast: Long,
                        key: String,
                        passthrough: MutableParquetTable.Passthrough)
      : Option[Staged] = {
    val newBase = s"$tableRoot/v$newLast"
    def name(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val staged = Manifest.read(st.dir).getOrElse(return None)
    val head = Manifest.read(newBase).getOrElse(return None)
    if (staged.key != key || head.key != key) return None
    val stagedRanges = staged.ranges(st.dir).getOrElse(return None)
    val newRanges = head.ranges(newBase).getOrElse(return None)
    if (staged.files.size != stagedRanges.size ||
        head.files.size != newRanges.size) return None // stat-less entries
    if (Seq(staged, head).exists(m => m.dimRanges.nonEmpty ||
          m.buckets.isDefined || m.tombstoneRows > 0))
      // dim zone maps / bucket specs / tombstone sidecars: the re-merge
      // recomputes them against the new head correctly
      return None
    // the table CONTRACT must agree between both chains, or this batch
    // was validated against a stale one and must re-merge:
    //  - composite identity;
    //  - CHECK constraints (a concurrent ADD/DROP CONSTRAINT);
    //  - DEFAULT/GENERATED contracts (the batch was filled/validated
    //    under the old one; a re-merge re-applies the new one);
    //  - the dropped-column blocklist (a concurrent DROP COLUMN changes
    //    what the merged inventory protects);
    //  - the rename mapping (implied by schema equality for any
    //    reachable history, but the rebuilt manifest re-declares it, so
    //    a silent mismatch would misalias columns);
    //  - the widened-column marker and the schema itself.
    def contract(m: Manifest) = (m.moreKeys, m.checks, m.defaults,
      m.generated, m.droppedColumns, m.renames, m.widenedColumns,
      m.schema.map(_.json))
    if (staged.schema.isEmpty || contract(staged) != contract(head))
      return None
    val myDirty = st.merge.rewrittenFiles.map(name).toSet
    val myClean = st.merge.passthroughFiles.map(name).toSet
    val headNames = newRanges.map(r => name(r.file)).toSet
    if (!myDirty.subsetOf(headNames)) return None
    val kept = newRanges.filterNot(r => myDirty(name(r.file)))
    val myNew = stagedRanges.filterNot(r => myClean(name(r.file)))
    val all = (kept ++ myNew).sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    val overlaps = all.iterator.zip(all.iterator.drop(1)).exists {
      case (a, b) => graft.sources.KeyBytes.compare(b.minBytes, a.maxBytes) <= 0
    }
    if (overlaps) return None

    // conflict provably disjoint — swap inventories
    var linked = st.merge.filesHardLinked
    var copied = st.merge.filesCopied
    val keptByName = kept.map(r => name(r.file) -> r).toMap
    val entries: Seq[(String, graft.sources.ParquetStats.FileKeyRange)] =
      passthrough match {
        case MutableParquetTable.Link =>
          // drop links of clean files the intervening commits rewrote,
          // link in their replacements; files kept by both stay as-is
          (myClean -- keptByName.keySet).foreach(n =>
            Files.deleteIfExists(Paths.get(st.dir, n)))
          keptByName.foreach { case (n, r) =>
            val dst = Paths.get(st.dir, n)
            if (!Files.exists(dst)) {
              try { Files.createLink(dst, Paths.get(r.file)); linked += 1 }
              catch { case _: Exception =>
                Files.copy(Paths.get(r.file), dst,
                  StandardCopyOption.REPLACE_EXISTING)
                copied += 1 }
            }
          }
          (kept ++ myNew).map(r => name(r.file) -> r)
        case MutableParquetTable.Reference =>
          // pure manifest surgery: zero filesystem operations
          kept.map(r => MutableParquetTable.relativize(st.dir, r.file) -> r) ++
            myNew.map(r => name(r.file) -> r)
      }
    // sizes from BOTH chains' manifests (kept files from the new head,
    // this writer's outputs from its staged manifest) — the rebase stays
    // a zero-filesystem-call operation
    val bytes = head.bytesByName ++ staged.bytesByName
    Manifest.write(st.dir, staged.copy(
      files = entries.sortBy(_._2.minBytes)(graft.sources.KeyBytes.ordering)
        .map { case (e, r) => Manifest.entry(e, r, bytes.get(name(e))) },
      committedAtMs = Some(System.currentTimeMillis())))
    Some(Staged(st.dir, Some(newLast),
      st.merge.copy(
        passthroughFiles = kept.map(_.file),
        filesHardLinked = linked, filesCopied = copied,
        filesReferenced = passthrough match {
          case MutableParquetTable.Reference => kept.size
          case _ => st.merge.filesReferenced
        })))
  }

  private def deleteQuietly(dir: String): Unit =
    try {
      val p = Paths.get(dir)
      if (Files.exists(p)) MutableParquetTable.deleteDir(p)
    } catch { case _: Exception => () }
}
