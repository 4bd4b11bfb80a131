package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg

/** Materialized aggregate view over a [[CdcMergeSink]] table, maintained
  * INCREMENTALLY: each committed table version gets a view version computed
  * by applying that step's change feed to the previous view
  * ([[IncrementalAgg.applyDelta]]) — never by rescanning the table.
  *
  * Layout: `tableRoot/aggview/v<n>` mirrors the table's version dirs;
  * a view version is committed by Spark's `_SUCCESS` marker. Each version
  * is written into a hidden stage dir under `aggview/` and published by
  * one atomic rename onto `v<n>`, so a `v<n>` is never seen
  * half-written. Refresh is idempotent, crash-safe and safe beside a
  * concurrent refresher: an existing committed view version is never
  * rewritten (a refresher that loses the rename adopts the winner's), and
  * an uncommitted one left by a crash is replaced.
  *
  * Scale shape: per refresh step, one change feed (cost ∝ files the merge
  * touched) + one delta aggregation (cost ∝ changed rows) + a join against
  * the group-cardinality-sized previous view. A 100 TB table with a
  * million-row dashboard aggregate refreshes in seconds.
  */
object AggView {

  private def viewDir(tableRoot: String, v: Long) = s"$tableRoot/aggview/v$v"

  private def committed(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_SUCCESS"))

  /** View versions that exist and are committed, ascending. */
  def viewVersions(tableRoot: String): Seq[Long] =
    CdcMergeSink.committedVersionIds(s"$tableRoot/aggview", committed)

  /** Committed view dirs record the aggregation spec they were built
    * under; a refresh with a DIFFERENT spec must fail fast, not silently
    * serve a view of different columns as "up to date". */
  private def specString(groupCols: Seq[String], sumCols: Seq[String],
                         extremaCols: Seq[String],
                         hllCol: Option[String] = None,
                         quantileCol: Option[String] = None) =
    s"group=${groupCols.mkString(",")};sum=${sumCols.mkString(",")}" +
      (if (extremaCols.isEmpty) "" else s";ext=${extremaCols.mkString(",")}") +
      hllCol.map(c => s";hll=$c").getOrElse("") +
      quantileCol.map(c => s";q=$c").getOrElse("")

  private def checkOrWriteSpec(tableRoot: String, spec: String): Unit = {
    val p = Paths.get(s"$tableRoot/aggview/_spec")
    if (!Files.exists(p)) {
      // temp file + atomic rename: a concurrent refresher never reads a
      // partly written spec
      Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(s".spec-${java.util.UUID.randomUUID}")
      Files.writeString(tmp, spec)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    }
    val existing = Files.readString(p)
    require(existing == spec,
      s"aggview at $tableRoot was built with [$existing], refresh asked " +
        s"for [$spec] — delete $tableRoot/aggview to rebuild under a new spec")
  }

  /** Publish a view version: `write` stages it in a hidden dir beside
    * `dir` (committed there by Spark's `_SUCCESS`), and one atomic rename
    * makes it `dir`. An uncommitted `dir` left by a crash is set aside
    * first. Returns false when a concurrent refresher published `dir`
    * first: the caller then adopts the winner's version. The stage is
    * gone on every exit. */
  private def publish(dir: Path)(write: String => Unit): Boolean = {
    val stage = dir.resolveSibling(
      s".stage-${dir.getFileName}-${java.util.UUID.randomUUID}")
    var published = false
    try {
      write(stage.toString)
      while (!published && !committed(dir.toString)) {
        if (Files.exists(dir)) setAside(dir)
        else try {
          Files.move(stage, dir, StandardCopyOption.ATOMIC_MOVE)
          published = true
        } catch {
          // a racer's rename landed first: the loop re-checks `dir`
          case _: java.io.IOException if Files.exists(dir) =>
        }
      }
      published
    } finally if (!published && Files.exists(stage))
      CdcMergeSink.deleteRecursively(stage)
  }

  /** Remove an uncommitted view dir: one atomic rename to a private
    * name (so at most one refresher takes it), then delete it there. A
    * winner's publish that landed between the caller's check and the
    * rename is put back, never deleted. */
  private def setAside(dir: Path): Unit = {
    val aside = dir.resolveSibling(
      s".stale-${dir.getFileName}-${java.util.UUID.randomUUID}")
    val taken =
      try { Files.move(dir, aside, StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: java.nio.file.NoSuchFileException => false }
    if (taken) {
      if (committed(aside.toString))
        try Files.move(aside, dir, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if committed(dir.toString) =>
          // another equal version took the slot meanwhile
          CdcMergeSink.deleteRecursively(aside)
        }
      else CdcMergeSink.deleteRecursively(aside)
    }
  }

  /** Attach the per-group HLL sketch column `hll_<c>` of a second
    * maintained frame to the core view rows (null-safe group equality —
    * a NULL group key is a group like any other; both frames drop
    * zero-count groups, so the group sets agree). */
  private def withHllColumn(core: DataFrame, hll: DataFrame,
                            groupCols: Seq[String], c: String): DataFrame =
    withSketchColumn(core, hll, groupCols, s"hll_$c")

  /** Attach a maintained sketch column (`hll_*` / `qsk_*`) of a second
    * maintained frame to the core view rows — same null-safe group
    * equality contract as [[withHllColumn]]. */
  private def withSketchColumn(core: DataFrame, sk: DataFrame,
                               groupCols: Seq[String],
                               skCol: String): DataFrame = {
    val h = sk.select(
      groupCols.map(g => col(g).as(s"__h_$g")) :+ col(skCol): _*)
    val cond = groupCols.map(g => core(g) <=> h(s"__h_$g")).reduce(_ && _)
    core.join(h, cond, "left_outer")
      .select(core.columns.map(core(_)).toIndexedSeq :+ col(skCol): _*)
  }

  /** Bring the view up to date with every committed table version: each
    * missing step applies that step's change feed to the previous view.
    * The first step seeds from a full aggregation of the base snapshot
    * (the only full pass the view ever pays). Returns the number of
    * versions this call published (a version a concurrent refresher
    * published first is adopted, not counted). With `hllCol`,
    * the view additionally maintains a per-group DISTINCT-COUNT sketch
    * column `hll_<col>` ([[IncrementalAgg.applyDeltaWithHll]]):
    * insert-only steps merge sketches delta-priced, retraction-touched
    * groups rescan group-key-pruned — the persisted-sketch-state form
    * of q201's union linearity. With `quantileCol`, a per-group
    * QUANTILE-SAMPLE sketch column `qsk_<col>`
    * ([[IncrementalAgg.applyDeltaWithQuantile]], row identity = the
    * table's merge key) is maintained the same way — "p99 per group,
    * incrementally" served from one stored column
    * ([[graft.functions.Udx.quantileSampleEstimate]]). */
  def refresh(spark: SparkSession, tableRoot: String,
              groupCols: Seq[String], sumCols: Seq[String],
              extremaCols: Seq[String] = Nil,
              hllCol: Option[String] = None,
              quantileCol: Option[String] = None): Int = {
    checkOrWriteSpec(tableRoot,
      specString(groupCols, sumCols, extremaCols, hllCol, quantileCol))
    val tableVs = CdcMergeSink.versions(tableRoot)
    // the previous step's view dir, opened only when a step builds on it:
    // each open is a footer-inference job, and a current view needs none
    var prevDir: Option[String] = None
    var prevV: Long = -1L // sentinel: resolves to the base snapshot
    var built = 0
    def full(df: DataFrame) = {
      val core =
        if (extremaCols.isEmpty) IncrementalAgg.fullAgg(df, groupCols, sumCols)
        else IncrementalAgg.fullAggWithExtrema(df, groupCols, sumCols,
          extremaCols)
      val withH = hllCol match {
        case None => core
        case Some(c) => withHllColumn(core,
          IncrementalAgg.fullAggWithHll(df, groupCols, c), groupCols, c)
      }
      quantileCol match {
        case None => withH
        case Some(c) => withSketchColumn(withH,
          IncrementalAgg.fullAggWithQuantile(df, groupCols, c,
            keyOf(tableRoot)),
          groupCols, s"qsk_$c")
      }
    }
    tableVs.foreach { v =>
      val dir = viewDir(tableRoot, v)
      if (!committed(dir)) {
        // base feeds the core delta AND each sketch branch's prev state
        // (up to 3 references; on the first refresh it is a full
        // aggregation) — group-sized, materialize once
        val base = graft.operators.Materialize.ck(prevDir
          .map(spark.read.parquet(_))
          .getOrElse(full(CdcMergeSink.readAsOf(spark, tableRoot, prevV))))
        // ONE materialization of the delta-sized diff serves every
        // maintenance branch (core + hll + quantile each reference the
        // feed several times; an unmaterialized feed would re-run the
        // snapshot diff per reference — guide §7.2). The operators'
        // own ckIfLazy then recognizes it as already checkpointed.
        val feed = graft.operators.Materialize.ck(
          CdcMergeSink.changeFeed(spark, tableRoot, prevV, v,
            keyOf(tableRoot)))
        // every branch takes the checkpointed `base` itself — the delta
        // operators select the columns they need and emit only their
        // own, and a projection here would make their ckIfLazy copy the
        // blocks once more
        val core =
          if (extremaCols.isEmpty)
            IncrementalAgg.applyDelta(base, feed, groupCols, sumCols)
          else IncrementalAgg.applyDeltaWithExtrema(base, feed,
            CdcMergeSink.readAsOf(spark, tableRoot, v),
            groupCols, sumCols, extremaCols)
        val withH = hllCol match {
          case None => core
          case Some(c) =>
            // the sketch delta re-derives its bookkeeping cnt from the
            // previous view's cnt
            val hllNext = IncrementalAgg.applyDeltaWithHll(base, feed,
              CdcMergeSink.readAsOf(spark, tableRoot, v), groupCols, c)
            withHllColumn(core, hllNext, groupCols, c)
        }
        val next = quantileCol match {
          case None => withH
          case Some(c) =>
            val qNext = IncrementalAgg.applyDeltaWithQuantile(base,
              feed, CdcMergeSink.readAsOf(spark, tableRoot, v), groupCols,
              c, keyOf(tableRoot))
            withSketchColumn(withH, qNext, groupCols, s"qsk_$c")
        }
        if (publish(Paths.get(dir))(next.coalesce(1).write.parquet(_)))
          built += 1
      }
      prevDir = Some(dir); prevV = v
    }
    built
  }

  /** The latest committed view state (refresh first to catch up). */
  def read(spark: SparkSession, tableRoot: String): DataFrame = {
    val vs = viewVersions(tableRoot)
    require(vs.nonEmpty, s"no committed view under $tableRoot/aggview — run refresh")
    spark.read.parquet(viewDir(tableRoot, vs.max))
  }

  /** The table's merge key, read from the latest snapshot's manifest. */
  private def keyOf(tableRoot: String): String =
    graft.sources.Manifest.get(CdcMergeSink.latestSnapshot(tableRoot),
      "not a committed merge snapshot").key
}
