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
  * Every version of a table — merge commits, replace, restore, zone-map
  * deletes and updates, tombstone deletes, schema/CHECK/DEFAULT changes
  * and the maintenance rewrites (`compact`, `compactRange`, `rebucket`,
  * `CALL system.zorder`, `Dedup.rebuildIndexLayout`) — claims its slot
  * through ONE publish loop ([[publish]]), safe under any number of
  * concurrent writers (threads or separate drivers on a shared
  * filesystem) with no locks and no wait-for-predecessor coupling:
  *
  *  1. STAGE — write the new snapshot against the latest committed one
  *     into a private `root/.tx-<uuid>` directory (invisible to readers:
  *     the version listing matches `v\d+` only). Writers stage fully
  *     concurrent — contention costs nothing until publish. The staged
  *     dir is a complete snapshot INCLUDING its manifest (and any dim
  *     zone maps), and it sits directly under the table root so both
  *     hard links (same filesystem) and `../vN/...` reference entries
  *     (same depth) are already in final form.
  *  2. PUBLISH — one atomic rename of the staged dir to `root/v<n>`,
  *     n = my base version + 1. The rename either wins the slot or
  *     fails because a competing writer won it first; because staged
  *     dirs carry their manifest, a published version is committed the
  *     instant it becomes visible and is never edited afterwards. This is
  *     the protocol's only atomic primitive — on an object store swap it
  *     for a conditional PUT (if-none-match) of the manifest at the
  *     versioned key.
  *  3. On a lost race — each entry point decides what its staged
  *     snapshot is worth against the new head:
  *     - a merge [[commit]] REBASES when the intervening commits provably
  *       touched a disjoint set of files ([[tryRebase]]: a manifest
  *       rebuilt against the new head, metadata only), else restages —
  *       write-write conflicts on the same files are inherently serial
  *       in a CoW table;
  *     - [[replace]], [[restore]] and [[replaceStagedDirect]] stage
  *       content that does not depend on the base, so the same dir is
  *       RE-AIMED at the new head's successor slot after a restamp;
  *     - everything else RESTAGES against the new head.
  *
  * Crash safety: a writer dying at any point leaves either a partial
  * `.tx-` dir (invisible; swept by [[CdcMergeSink.vacuum]] after a
  * retention window) or a fully committed version; a writer that fails
  * (bad batch, violated CHECK, unreadable file) deletes its staged dir.
  * There is no state a crashed or failed writer can leave that blocks
  * other writers or corrupts a reader — the slot-claim IS the commit.
  * An uncommitted `v<n>` on the slot was not made by this protocol
  * (foreign debris): every claim refuses it with a
  * [[BlockedSlotException]] and leaves it untouched.
  *
  * Both streaming sinks commit with a `(queryId, epoch)` txn marker, and
  * [[publish]] lands each epoch exactly once.
  *
  * Serialization semantics: commits linearize in version order; each
  * version's snapshot is its operation applied to the PREDECESSOR
  * version (restage) or a provably-equivalent file swap (rebase).
  * Overlapping writers therefore see last-committer-wins per key,
  * exactly as if they had run sequentially in version order.
  *
  * The reference is single-process and single-writer by construction
  * (one ParquetRewriter per sorted file, README.md:45-48); multi-writer
  * commit coordination is what a shared 100 TB table needs on top. */
object OptimisticCommit {

  /** The next version slot is occupied by an UNCOMMITTED directory this
    * protocol did not produce (foreign debris) — publishing over it could
    * destroy another writer's in-progress work, so the claim refuses
    * instead. */
  final class BlockedSlotException(msg: String) extends RuntimeException(msg)

  /** Publish attempts before a writer gives up on a contended chain. */
  private val MaxAttempts = 20

  /** One publish attempt: the version its snapshot is staged against
    * (−1 = the base snapshot), that version's dir, and the staging dir. */
  private final case class Attempt(base: Long, baseDir: String, dir: String)

  /** What a lost publish race does with the staged snapshot. */
  private sealed trait OnLost[+A]
  /** Discard the staged dir and stage again against the new head. */
  private case object Restage extends OnLost[Nothing]
  /** Publish the same staged dir at the new head's successor slot. */
  private final case class Reaim[A](result: A) extends OnLost[A]
  /** Give up without publishing (the operation no longer applies to
    * the new head). */
  private case object Stop extends OnLost[Nothing]

  private def restage[A](at: Attempt, a: A, head: Long): OnLost[A] = Restage

  /** The landed version and the winning attempt's result; a `None`
    * result published nothing and `version` is the head it stopped at. */
  private final case class Published[A](version: Long, result: Option[A],
                                        attempts: Int)

  private def head(tableRoot: String): Long =
    CdcMergeSink.versions(tableRoot).lastOption.getOrElse(-1L)

  private def snapshotDir(tableRoot: String, v: Long): String =
    if (v < 0) s"$tableRoot/base" else s"$tableRoot/v$v"

  /** THE slot claim. Looks up the head, has `stage` write a complete
    * snapshot against it into a fresh `.tx-` dir (None = nothing to
    * publish), and renames that dir onto the head's successor slot. A
    * lost race first refuses an uncommitted slot, then asks `lost` what
    * the staged snapshot is worth against the new head. Every staged dir
    * that does not publish is deleted on every exit, exceptions
    * included — except `callerDir`, which its owner stages into and
    * cleans up. `attempts` counts renames tried.
    *
    * A `txnMarker` (streaming writer app id, epoch) makes the claim
    * exactly-once: an epoch the table already holds publishes nothing —
    * checked before `stage` runs (a replay costs no Spark job) and again
    * on every lost race, where a zombie twin of the writer may have just
    * published it (the analog of Delta's SetTransaction conflict check) —
    * and the marker is stamped into the staged manifest before every
    * rename, so it is atomic with the version it marks. */
  private def publish[A](tableRoot: String, what: String,
                         callerDir: Option[String] = None,
                         txnMarker: Option[(String, Long)] = None)(
      stage: Attempt => Option[A])(
      lost: (Attempt, A, Long) => OnLost[A]): Published[A] = {
    def landed = txnMarker.exists { case (app, epoch) =>
      CdcMergeSink.lastTxnEpoch(tableRoot, app).exists(_ >= epoch) }
    if (landed) return Published(head(tableRoot), None, 0)
    var attempts = 0
    var staged: Option[(Attempt, A)] = None
    var unpublished: Option[String] = None
    try {
      while (attempts < MaxAttempts) {
        val (at, result) = staged match {
          case Some(s) => s
          case None =>
            val base = head(tableRoot)
            val at = Attempt(base, snapshotDir(tableRoot, base),
              callerDir.getOrElse(s"$tableRoot/.tx-${
                java.util.UUID.randomUUID().toString.take(12)}"))
            if (callerDir.isEmpty) unpublished = Some(at.dir)
            stage(at) match {
              case Some(r) => (at, r)
              case None => return Published(base, None, attempts)
            }
        }
        txnMarker.foreach { case (app, epoch) =>
          MutableParquetTable.annotateTxn(at.dir, app, epoch) }
        attempts += 1
        val target = s"$tableRoot/v${at.base + 1}"
        if (tryPublish(at.dir, at.baseDir, target)) {
          unpublished = None
          return Published(at.base + 1, Some(result), attempts)
        }
        // slot taken: with staged dirs publishing manifest-complete, any
        // committed successor means a competitor won the race; an
        // UNCOMMITTED one was not made by this protocol — refuse
        val now = head(tableRoot)
        if (now <= at.base)
          throw new BlockedSlotException(
            s"$target exists but is not a committed snapshot — a foreign " +
              "directory is blocking the version chain; remove it " +
              "(vacuum) and retry")
        if (landed) return Published(now, None, attempts)
        lost(at, result, now) match {
          case Restage =>
            unpublished.foreach(deleteQuietly)
            staged = None
          case Reaim(r) =>
            staged = Some((Attempt(now, snapshotDir(tableRoot, now), at.dir), r))
          case Stop => return Published(now, None, attempts)
        }
      }
      throw new IllegalStateException(
        s"$what on $tableRoot lost the publish race $MaxAttempts times — " +
          "pathological contention; serialize writers")
    } finally unpublished.foreach(deleteQuietly)
  }

  /** Commit `batch` as the table's next version, safe under concurrent
    * writers. Returns the landed version (or the current latest for an
    * empty batch or an already-landed epoch) plus attempt telemetry.
    * `testHookAfterStage` runs between staging (or a rebase) and publish
    * — a deterministic seam for conflict tests; production callers leave
    * the default. `txnMarker` (writer app id, epoch) makes the commit
    * exactly-once per epoch ([[publish]]). A lost race rebases
    * metadata-only when it can ([[tryRebase]]), else re-merges against
    * the new head. */
  def commit(spark: SparkSession, tableRoot: String, key: String,
             batch: DataFrame, opCol: String = "op",
             seqCol: Option[String] = None,
             passthrough: MutableParquetTable.Passthrough =
               MutableParquetTable.Link,
             testHookAfterStage: () => Unit = () => (),
             txnMarker: Option[(String, Long)] = None,
             feedPending: Boolean = false): ConcurrentCommit = {
    val collapsed = CdcMergeSink.collapse(batch, key, seqCol)
    lazy val empty = collapsed.isEmpty
    def hooked(mr: MergeResult): MergeResult = { testHookAfterStage(); mr }
    var rebases = 0
    val p = publish[MergeResult](tableRoot, "commit",
        txnMarker = txnMarker) { at =>
      if (empty) None
      else {
        // the base manifest is read once and handed down: the handle, the
        // merge and its manifest writer all use this value
        val base = Manifest.read(at.baseDir)
        val mr = MutableParquetTable.opened(spark, at.baseDir, key,
          passthrough, base).mergeFrom(base, collapsed, opCol, Some(at.dir))
        // a rebase rebuilds the staged manifest from itself, so the flag
        // stamped once here survives every publish attempt
        if (feedPending) MutableParquetTable.annotateFeedPending(at.dir)
        Some(hooked(mr))
      }
    } { (at, mr, now) =>
      tryRebase(tableRoot, at.dir, mr, now, key, passthrough) match {
        case Some(rebased) => rebases += 1; Reaim(hooked(rebased))
        case None => Restage
      }
    }
    ConcurrentCommit(p.version, p.attempts, rebases,
      p.result.map(_.copy(snapshotDir = s"$tableRoot/v${p.version}")))
  }

  /** The write contract a replace's staged manifest carries: CHECK
    * constraints and DEFAULT/GENERATED column contracts. */
  private final case class Contract(checks: Map[String, String],
                                    defaults: Map[String, String],
                                    generated: Map[String, String])

  private def contractOf(m: Option[Manifest]): Contract =
    Contract(m.map(_.checks).getOrElse(Map.empty),
      m.map(_.defaults).getOrElse(Map.empty),
      m.map(_.generated).getOrElse(Map.empty))

  /** Re-aim a base-independent staged snapshot at the head `headDir`: a
    * replace's CONTENT does not depend on the base, but its CONTRACT
    * does. Publishing past a racing `ALTER TABLE ADD CONSTRAINT` with
    * the stale checks would erase the constraint from the chain forever,
    * unvalidated, so newly-added checks are enforced over the staged
    * content and the staged manifest takes the head's set ([[tryRebase]]
    * declines on the same drift; a replace can re-validate instead
    * because its content is self-contained — a violation throws). A
    * DEFAULT/GENERATED drift cannot be re-stamped (the staged files were
    * filled under the old contract): None. The winner's commit stamp is
    * newer than the staged one, so the stamp is renewed to keep commit
    * times monotone along the chain (timestamp travel, feed binary
    * search); txn marker fields are untouched. */
  private def reaimed(headDir: String, stagedDir: String, c: Contract,
                      content: => Option[DataFrame],
                      context: String): Option[Contract] = {
    val now = contractOf(Manifest.read(headDir))
    if (now.defaults != c.defaults || now.generated != c.generated)
      return None
    if (now.checks != c.checks) {
      val added = now.checks.filterNot { case (n, e) =>
        c.checks.get(n).contains(e) }
      if (added.nonEmpty) content.foreach(df =>
        graft.sources.GraftChecks.enforce(df, added,
          s"$context (constraint added concurrently)"))
      graft.sources.GraftChecks.annotateChecks(stagedDir, now.checks)
    }
    MutableParquetTable.restampCommittedAt(stagedDir)
    Some(now)
  }

  /** Commit `batch` as the table's next version REPLACING all current
    * content — the storage side of SQL `INSERT OVERWRITE` and
    * `TRUNCATE TABLE`. The staged snapshot is written key-sorted with
    * disjoint per-file ranges (the layout invariant every later merge
    * routes by), manifest-complete, then published with the same atomic
    * slot-claim as [[commit]]. Unlike a merge, the content does not
    * depend on the base version, so a lost publish race needs NO rebase
    * or re-merge: the same staged dir is re-aimed at the new head's
    * successor slot ([[reaimed]]: a racing CHECK change is enforced and
    * carried, a racing DEFAULT/GENERATED change fails the replace). An
    * empty batch commits an empty snapshot (truncate). `txnMarker` makes
    * it exactly-once per epoch like [[commit]].
    *
    * `numFiles` 0 sizes the output from the batch plan's statistics at
    * ~128 MB per file (exact when the batch reads staged parquet, as the
    * V2 write path does); pass it explicitly to pin the layout. */
  def replace(spark: SparkSession, tableRoot: String, key: String,
              batch: DataFrame, numFiles: Int = 0,
              txnMarker: Option[(String, Long)] = None,
              testHookAfterStage: () => Unit = () => ()): Long = {
    val context = s"INSERT OVERWRITE of $tableRoot"
    var emptyBatch = false
    publish[Contract](tableRoot, "replace", txnMarker = txnMarker) { at =>
      val head = Manifest.read(at.baseDir).getOrElse(Manifest(key))
      val moreKeys = head.moreKeys
      // CHECK constraints and DEFAULT/GENERATED column contracts survive
      // a replace (they are the table's write contract, not a property
      // of its content) and gate/fill the new content
      val batchC = graft.sources.GraftDefaults.applyAndEnforce(batch,
        head.defaults, head.generated, head.schema, None, context)
      emptyBatch = batchC.isEmpty
      if (emptyBatch) {
        MutableParquetTable.commitEmpty(at.dir, key, batchC.schema, moreKeys,
          head.buckets, head.checks, head.defaults, head.generated, head.layout)
      } else {
        if (head.checks.nonEmpty)
          graft.sources.GraftChecks.enforce(batchC, head.checks, context)
        // under the table's recorded layout; a bucketed table's replace
        // re-buckets: the layout is the table's join contract, so INSERT
        // OVERWRITE must not silently drop it
        graft.sources.ParquetTable.writeTable(batchC, at.dir, head.copy(key = key),
          if (numFiles > 0) numFiles
          else graft.sources.ParquetTable.filesFor(
            batchC.queryExecution.optimizedPlan.stats.sizeInBytes, 128L << 20))
        MutableParquetTable(spark, at.baseDir, key, moreKeys = moreKeys)
          // replace content is entirely new bytes written through the
          // batch schema — no pre-drop file survives, blocklist clears
          .commitManifest(at.dir, Some(batchC.schema), physicalRewrite = true)
      }
      testHookAfterStage()
      Some(contractOf(Some(head)))
    } { (at, c, now) =>
      Reaim(reaimed(snapshotDir(tableRoot, now), at.dir, c,
          if (emptyBatch) None else Some(spark.read.parquet(at.dir)), context)
        .getOrElse(throw new IllegalStateException(
          s"concurrent DEFAULT/GENERATED column change on $tableRoot " +
            "during INSERT OVERWRITE — re-run the statement under the new " +
            "contract")))
    }.version
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
    * every commit uses (the staging dir stays the caller's: it is never
    * deleted here). Returns false — caller falls back to the legacy
    * re-read + re-sort replace — when the proof fails: overlapping
    * ranges (a planner that did not honor the distribution) or
    * stat-less files; also when a lost race moved the DEFAULT/GENERATED
    * contract, or (`insertIntoEmpty`) when the table is no longer empty.
    * The replace contract holds either way: checks carried and enforced,
    * dropped-column blocklist cleared (all-new files), bucketed layouts
    * decline upstream. */
  def replaceStagedDirect(spark: SparkSession, tableRoot: String,
                          key: String, moreKeysDeclared: Seq[String],
                          stagingDir: String, staged: Seq[String],
                          schema: org.apache.spark.sql.types.StructType,
                          insertIntoEmpty: Boolean = false,
                          testHookAfterStage: () => Unit = () => ()): Boolean = {
    lastReplaceDirect = false
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
    def content = spark.read.schema(schema).parquet(staged: _*)
    val p = publish[Contract](tableRoot, "direct replace",
        callerDir = Some(stagingDir)) { at =>
      val head = Manifest.read(at.baseDir)
      MutableParquetTable.requireFeaturesSupported(at.baseDir, head)
      // the append form is valid only while the table is STILL empty —
      // a concurrent insert since analysis means this batch must merge,
      // not replace
      if (insertIntoEmpty && !head.exists(_.files.isEmpty)) None
      else {
        val c = contractOf(head)
        if (c.checks.nonEmpty)
          graft.sources.GraftChecks.enforce(content, c.checks, context)
        // the SQL INSERT path supplies every column by the time rows
        // reach storage, so GENERATED drift is validated here
        // (fill-on-omission applies on the DataFrame write surfaces); the
        // contract is carried into the manifest below
        if (c.generated.nonEmpty)
          graft.sources.GraftDefaults.applyAndEnforce(content, Map.empty,
            c.generated, Some(schema), None, context)
        // crashed-task debris: a task that died mid-write (JVM kill — its
        // abort() never ran) left a partial/duplicate file in the staging
        // dir that no commit message names. The manifest below lists only
        // committed files, but the publish renames the WHOLE dir — sweep
        // non-committed data files first, or they ship into the published
        // snapshot (corrupting the direct spark.read.parquet(dir) view and
        // leaking bytes no vacuum ever reclaims).
        val committed = staged.map(f => f.split('/').last).toSet
        MutableParquetTable.dataFiles(stagingDir)
          .filterNot(f => committed(f.split('/').last))
          .foreach(f => Files.delete(Paths.get(f)))
        val bytes = staged.map(f => f.split('/').last ->
          Files.size(Paths.get(f))).toMap
        Manifest.write(stagingDir, Manifest(key,
          keyType = Manifest.keyTypeOf(sorted.headOption.map(_.min)),
          moreKeys = head.map(_.moreKeys).filter(_.nonEmpty)
            .getOrElse(moreKeysDeclared),
          files = sorted.map { r =>
            val n = r.file.split('/').last
            Manifest.entry(n, r, bytes.get(n))
          },
          schema = Some(schema),
          committedAtMs = Some(System.currentTimeMillis()),
          checks = c.checks, defaults = c.defaults, generated = c.generated))
        testHookAfterStage()
        Some(c)
      }
    } { (at, c, now) =>
      // a lost race invalidates the EMPTINESS the append form proved —
      // the batch must merge against whatever won. Replace semantics
      // (the content IS the next state regardless of the head) re-aim;
      // a DEFAULT/GENERATED drift falls back to the legacy replace,
      // which re-reads the new head's contract
      if (insertIntoEmpty) Stop
      else reaimed(snapshotDir(tableRoot, now), at.dir, c, Some(content),
        context).fold[OnLost[Contract]](Stop)(Reaim(_))
    }
    lastReplaceDirect = p.result.isDefined
    lastReplaceDirect
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
    * not depend on the base version, so a lost race re-aims the same
    * staged dir at the new head's successor slot after a restamp. */
  def restore(spark: SparkSession, tableRoot: String, toVersion: Long): Long = {
    val targetDir =
      if (toVersion < 0) s"$tableRoot/base"
      else {
        val vs = CdcMergeSink.versions(tableRoot)
        require(vs.contains(toVersion),
          s"cannot restore $tableRoot to v$toVersion — committed versions: " +
            s"base${vs.map(v => s", v$v").mkString}")
        s"$tableRoot/v$toVersion"
      }
    publish[Unit](tableRoot, "restore") { at =>
      Some(MutableParquetTable.stageRestoreManifest(at.dir, targetDir))
    } { (at, _, _) =>
      // keep commit times monotone across re-aims (see [[reaimed]])
      MutableParquetTable.restampCommittedAt(at.dir)
      Reaim(())
    }.version
  }

  /** Stage `op` of the head opened with its one manifest read into the
    * attempt's dir, restaged per publish attempt. */
  private def restagedOp(spark: SparkSession, tableRoot: String, key: String,
                         passthrough: MutableParquetTable.Passthrough,
                         what: String)(
      op: (MutableParquetTable, String) => MergeResult): (Long, MergeResult) = {
    val p = publish[MergeResult](tableRoot, what) { at =>
      Some(op(MutableParquetTable.opened(spark, at.baseDir, key, passthrough,
        Manifest.read(at.baseDir)), at.dir))
    }(restage)
    (p.version, p.result.get.copy(snapshotDir = s"$tableRoot/v${p.version}"))
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
                  passthrough: MutableParquetTable.Passthrough =
                    MutableParquetTable.Link): (Long, MergeResult) =
    restagedOp(spark, tableRoot, key, passthrough, "deleteWhere")(
      _.deleteWhere(cond, _))

  /** Commit a TOMBSTONE delete as the table's next version
    * ([[graft.sources.MutableParquetTable.deleteKeysTombstone]]): every
    * data file passes through, only the delta-sized tombstone sidecar
    * and the manifest are written — a scattered key-delete at METADATA
    * cost. Restaged per publish attempt (the sidecar folds into the
    * base's current set, so a lost race invalidates it — and restaging
    * is sidecar-sized). Returns (version, summary). */
  def deleteKeysTombstone(spark: SparkSession, tableRoot: String, key: String,
                          deleteKeys: DataFrame,
                          passthrough: MutableParquetTable.Passthrough =
                            MutableParquetTable.Link): (Long, MergeResult) =
    restagedOp(spark, tableRoot, key, passthrough, "tombstone delete")(
      _.deleteKeysTombstone(deleteKeys, _))

  /** Commit a zone-map `UPDATE ... WHERE` as the table's next version
    * ([[graft.sources.MutableParquetTable.updateWhere]]): proven-clean
    * files pass through, intersecting files rewrite in place with the
    * CASE projection. Restaged per publish attempt like [[deleteWhere]].
    * Returns (version, summary). */
  def updateWhere(spark: SparkSession, tableRoot: String, key: String,
                  cond: org.apache.spark.sql.Column,
                  sets: Seq[(String, org.apache.spark.sql.Column)],
                  passthrough: MutableParquetTable.Passthrough =
                    MutableParquetTable.Link): (Long, MergeResult) =
    restagedOp(spark, tableRoot, key, passthrough, "updateWhere")(
      _.updateWhere(cond, sets, _))

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
                   recordDropped: Seq[String] = Nil,
                   expectedSchema: Option[org.apache.spark.sql.types.StructType] = None,
                   expectedChecks: Option[Map[String, String]] = None,
                   newRenames: Option[Map[String, String]] = None,
                   recordWidened: Seq[String] = Nil,
                   stripDims: Seq[String] = Nil): Long =
    publish[Unit](tableRoot, "schema change") { at =>
      // drift guards (the commitChecks expectedChecks pattern): the
      // caller computed `newSchema` and ran its guards against a head it
      // read BEFORE this claim. Restaging that result onto a head whose
      // schema moved (a concurrent ADD COLUMNS / merge evolution) would
      // silently ERASE the concurrently-added column — guardResurrected
      // cannot catch it, the column was never dropped. A concurrently
      // added CHECK referencing a column this change drops would commit
      // as a ghost contract failing every later write. Fail instead;
      // the caller re-reads and re-derives.
      expectedSchema.foreach { exp =>
        val head = MutableParquetTable.manifestSchema(at.baseDir)
        if (head.exists(_ != exp))
          throw new IllegalStateException(
            s"concurrent schema change on $tableRoot (this change was " +
              s"computed against ${exp.fieldNames.mkString("[", ",", "]")}, " +
              s"head now carries ${head.map(_.fieldNames.mkString("[", ",", "]"))
                .getOrElse("<none>")}) — re-read the table and retry")
      }
      expectedChecks.foreach(requireChecks(tableRoot, at.baseDir, _,
        "schema change was validated"))
      Some(MutableParquetTable.stageSchemaChange(at.baseDir, at.dir,
        newSchema, recordDropped, newRenames, recordWidened, stripDims))
    }(restage).version

  /** Fail on a CHECK-constraint set that moved since the caller read it. */
  private def requireChecks(tableRoot: String, headDir: String,
                            expected: Map[String, String],
                            what: String): Unit = {
    val headChecks = graft.sources.GraftChecks.manifestChecks(headDir)
    if (headChecks != expected)
      throw new IllegalStateException(
        s"concurrent CHECK-constraint change on $tableRoot (this $what " +
          s"against ${expected.keySet.toSeq.sorted.mkString("{", ",", "}")}, " +
          s"head now declares ${headChecks.keySet.toSeq.sorted
            .mkString("{", ",", "}")}) — re-read the table and retry")
  }

  /** Re-run the caller's validation scan when the head moved past the
    * version it validated: rows committed CONCURRENTLY by a data writer
    * were only checked against the OLD contract — otherwise a table
    * could declare a contract its rows violate, silently and permanently
    * (the "existing rows satisfy checks by induction" invariant every
    * later write trusts). */
  private def revalidator(validatedVersion: Option[Long],
                          revalidate: Long => Unit): Long => Unit = {
    var validatedAt = validatedVersion
    base => validatedAt.foreach { v =>
      if (base != v) { revalidate(base); validatedAt = Some(base) }
    }
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
    *  - `validatedVersion`/`revalidate`: a restage onto a moved base
    *    re-runs the caller's validation scan against the new head before
    *    staging ([[revalidator]]).
    *  - `expectedChecks`: a concurrent CONSTRAINT change (another
    *    add/drop winning a slot first) would be stomped by restaging the
    *    caller's stale target set; detected and failed instead. */
  def commitChecks(tableRoot: String, checks: Map[String, String],
                   validatedVersion: Option[Long] = None,
                   revalidate: Long => Unit = _ => (),
                   expectedChecks: Option[Map[String, String]] = None): Long = {
    val validated = revalidator(validatedVersion, revalidate)
    publish[Unit](tableRoot, "constraint change") { at =>
      expectedChecks.foreach(requireChecks(tableRoot, at.baseDir, _,
        "change was computed"))
      validated(at.base)
      Some(graft.sources.GraftChecks.stageChecksChange(at.baseDir, at.dir,
        checks))
    }(restage).version
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
                            validatedVersion: Option[Long] = None,
                            revalidate: Long => Unit = _ => (),
                            expected: Option[(Map[String, String],
                              Map[String, String])] = None): Long = {
    val validated = revalidator(validatedVersion, revalidate)
    publish[Unit](tableRoot, "column-contract change") { at =>
      expected.foreach { case (expD, expG) =>
        val headD = graft.sources.GraftDefaults.manifestDefaults(at.baseDir)
        val headG = graft.sources.GraftDefaults.manifestGenerated(at.baseDir)
        if (headD != expD || headG != expG)
          throw new IllegalStateException(
            s"concurrent DEFAULT/GENERATED column change on $tableRoot — " +
              "re-read the table and retry")
      }
      validated(at.base)
      Some(graft.sources.GraftDefaults.stageDefaultsChange(at.baseDir, at.dir,
        defaults, generated))
    }(restage).version
  }

  /** Publish a maintenance REWRITE of the head — compaction,
    * re-bucketing, re-layout — as the table's next version.
    * `stage(headDir, dir)` writes a complete snapshot derived from the
    * head at `headDir` into the private `dir` — manifest and any dim
    * zone maps included, so the published manifest is never edited
    * afterwards — or returns false when there is nothing to commit (the
    * head version is returned then). Restaged on a lost race: the
    * rewrite read the old head. */
  private[graft] def commitRewrite(tableRoot: String, what: String)(
      stage: (String, String) => Boolean): Long =
    publish[Unit](tableRoot, what) { at =>
      if (stage(at.baseDir, at.dir)) Some(()) else None
    }(restage).version

  /** Atomic slot claim. True = this staged dir is now the committed
    * version. False = the slot is already occupied (conflict). Errors
    * that are not slot-occupancy propagate.
    *
    * Before the rename, the staged stamp is CLAMPED to the predecessor
    * `head`'s commit time ([[MutableParquetTable.clampCommittedAt]]): a
    * multi-process writer with a lagging clock can win its first attempt
    * and would otherwise publish a non-monotone `committedAtMs`, which
    * breaks the binary search behind timestamp travel / change-feed
    * resolution and makes retention vacuum undercount recent versions.
    * Every version passes through here ([[publish]]), so every one
    * inherits the invariant. */
  private def tryPublish(staging: String, head: String,
                         target: String): Boolean = {
    MutableParquetTable.clampCommittedAt(staging, head)
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
  private def tryRebase(tableRoot: String, dir: String, merge: MergeResult,
                        newLast: Long, key: String,
                        passthrough: MutableParquetTable.Passthrough)
      : Option[MergeResult] = {
    val newBase = s"$tableRoot/v$newLast"
    def name(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val staged = Manifest.read(dir).getOrElse(return None)
    val head = Manifest.read(newBase).getOrElse(return None)
    if (staged.key != key || head.key != key) return None
    val stagedRanges = staged.ranges(dir).getOrElse(return None)
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
    val myDirty = merge.rewrittenFiles.map(name).toSet
    val myClean = merge.passthroughFiles.map(name).toSet
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
    var linked = merge.filesHardLinked
    var copied = merge.filesCopied
    val keptByName = kept.map(r => name(r.file) -> r).toMap
    val entries: Seq[(String, graft.sources.ParquetStats.FileKeyRange)] =
      passthrough match {
        case MutableParquetTable.Link =>
          // drop links of clean files the intervening commits rewrote,
          // link in their replacements; files kept by both stay as-is
          (myClean -- keptByName.keySet).foreach(n =>
            Files.deleteIfExists(Paths.get(dir, n)))
          keptByName.foreach { case (n, r) =>
            val dst = Paths.get(dir, n)
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
          kept.map(r => MutableParquetTable.relativize(dir, r.file) -> r) ++
            myNew.map(r => name(r.file) -> r)
      }
    // sizes from BOTH chains' manifests (kept files from the new head,
    // this writer's outputs from its staged manifest) — the rebase stays
    // a zero-filesystem-call operation
    val bytes = head.bytesByName ++ staged.bytesByName
    Manifest.write(dir, staged.copy(
      files = entries.sortBy(_._2.minBytes)(graft.sources.KeyBytes.ordering)
        .map { case (e, r) => Manifest.entry(e, r, bytes.get(name(e))) },
      committedAtMs = Some(System.currentTimeMillis())))
    Some(merge.copy(
      passthroughFiles = kept.map(_.file),
      filesHardLinked = linked, filesCopied = copied,
      filesReferenced = passthrough match {
        case MutableParquetTable.Reference => kept.size
        case _ => merge.filesReferenced
      }))
  }

  private def deleteQuietly(dir: String): Unit =
    try {
      val p = Paths.get(dir)
      if (Files.exists(p)) MutableParquetTable.deleteDir(p)
    } catch { case _: Exception => () }
}
