package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{Manifest, MutableParquetTable, ParquetLayout, ParquetStats}
import graft.streaming.CdcMergeSink

/** Pins the Spark work of the merge's rewrite: one job of at most
  * `defaultParallelism` result tasks, in which only the batch is
  * shuffled — and no rewrite job at all for a no-op merge; a bucketed
  * merge is the routing pass plus that job. Inside a dirty file, clean
  * row groups are copied raw and only dirty ones are re-encoded, under
  * the layout the table was created with, which whole-table rewrites
  * keep too. */
class CowRewriteGuardSpec extends SparkSpec {

  /** Jobs, result-stage task counts and shuffle reads of the SQL
    * executions whose plan holds the rewrite. */
  private final class Recorder extends SparkListener {
    val rewrites = mutable.Set.empty[Long]          // execution ids
    val jobsOf = mutable.Map.empty[Long, Seq[Int]]  // execution id -> jobs
    val resultTasks = mutable.Map.empty[Int, Int]   // job -> result-stage tasks
    val stageJob = mutable.Map.empty[Int, Int]
    val shuffleRead = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val ended = mutable.Set.empty[Int]
    var sentinel = -1
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains("CowRewrite") =>
        synchronized(rewrites += s.executionId)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(Sentinel) != null))
        sentinel = e.jobId
      Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => jobsOf(id.toLong) = jobsOf.getOrElse(id.toLong, Nil) :+ e.jobId)
      e.stageInfos.sortBy(_.stageId).lastOption
        .foreach(st => resultTasks(e.jobId) = st.numTasks)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) stageJob.get(e.stageId).foreach(j =>
        shuffleRead(j) += e.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(ended += e.jobId)
    def rewriteJobs: Seq[Int] = synchronized(rewrites.toSeq.flatMap(jobsOf.getOrElse(_, Nil)))
  }

  private val Sentinel = "graft.test.sentinel"

  private def recording[A](body: => A): (A, Recorder) = {
    val r = new Recorder
    val sc = spark.sparkContext
    sc.addSparkListener(r)
    try {
      val out = body
      // listener delivery is asynchronous but in order: once a job run
      // after `body` has ended, every event of `body` has arrived
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Sentinel, null)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
          !r.synchronized(r.ended(r.sentinel)))
        Thread.sleep(20)
      (out, r)
    } finally sc.removeSparkListener(r)
  }

  test("a merge dirtying all 32 files is one job, <= slot-count tasks, batch-only shuffle") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-cowguard").toString
    // 32 files of 400 keys each, written one by one: a sampled range
    // partitioning may produce fewer
    (0 until 32).foreach { f =>
      spark.range(f * 400L, (f + 1) * 400L).select(col("id").as("k"),
          (col("id") * 7).as("v"), concat(lit("payload-"), col("id")).as("s"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    MutableParquetTable(spark, dir, "k").commitManifest(dir)
    val m = Manifest.get(dir)
    assert(m.files.size === 32)
    val tableBytes = m.files.flatMap(_.bytes).sum
    // one key per file, a third of them deletes
    val batch = (0 until 32).map(i => (i * 400L + 17, -1L, s"new-$i",
      if (i % 3 == 0) "delete" else "upsert")).toDF("k", "v", "s", "op")

    val (res, rec) = recording(MutableParquetTable(spark, dir, "k").merge(batch))
    assert(res.rewrittenFiles.size === 32)
    val jobs = rec.rewriteJobs
    assert(jobs.size === 1, s"the rewrite ran as ${jobs.size} jobs")
    assert(rec.resultTasks(jobs.head) <= spark.sparkContext.defaultParallelism,
      s"${rec.resultTasks(jobs.head)} result tasks")
    assert(rec.shuffleRead(jobs.head) < tableBytes / 10,
      s"shuffled ${rec.shuffleRead(jobs.head)} bytes of a $tableBytes-byte table")

    // the no-op boundary: nothing dirty, no rewrite job
    val (noop, rec2) = recording(MutableParquetTable(spark, res.snapshotDir, "k")
      .merge(batch.limit(0)))
    assert(noop.rewrittenFiles.isEmpty)
    assert(rec2.rewriteJobs.isEmpty && rec2.rewrites.isEmpty)
  }

  /** `body`'s result, the rewrite's jobs, and the rewrite's SQL metrics
    * summed over the queries `body` runs. */
  private def withMetrics[A](body: => A): (A, Recorder, Map[String, Long]) = {
    val sums = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        sums.synchronized(nodes(qe.executedPlan).filter(_.nodeName == "CowRewrite")
          .foreach(_.metrics.foreach { case (k, m) => sums(k) += m.value }))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (out, rec) = recording(body)
      (out, rec, sums.synchronized(sums.toMap.withDefaultValue(0L)))
    } finally spark.listenerManager.unregister(listener)
  }

  private def footer(file: String): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), new Configuration()))
    try r.getFooter finally r.close()
  }

  /** A table of 3 key-disjoint files of 256 KB row groups under
    * `layout` (incompressible payloads, so groups fill by rows). */
  private def groupedTable(root: String, layout: ParquetLayout): GraftTable = {
    val df = spark.range(0, 90000).select(col("id").as("k"), (col("id") * 7).as("v"),
      sha2(col("id").cast("string"), 256).as("s"))
    GraftTable.create(df, root, "k", numFiles = 3, layout)
  }

  private def upserts(keys: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    keys.map(k => (k, -k, s"new-$k", "upsert")).toDF("k", "v", "s", "op")
  }

  test("a batch dirtying row groups of one file re-encodes only them, one job, the rest byte-identical") {
    val root = Files.createTempDirectory("graft-cowguard-rg").toString
    groupedTable(root, ParquetLayout(rowGroupBytes = Some(256L * 1024)))
    val base = s"$root/base"
    val m = Manifest.get(base)
    assert(m.files.size >= 2, "several files")
    val ranges = m.ranges(base).get.sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    val src = ranges(1).file
    // each row group's minimum key
    val mins = ParquetStats.footerRows(src, "k", footer(src)).map(_.getLong(7))
    assert(mins.size >= 6, s"want several 256 KB groups, got ${mins.size}")

    // dirty 2 groups, then 4: the re-encoded share follows the dirty groups
    Seq(Seq(1, 3), Seq(0, 2, 4, 5)).foreach { dirty =>
      val batch = upserts(dirty.map(g => mins(g) + 1))
      val (res, rec, metrics) = withMetrics(
        MutableParquetTable(spark, base, "k").merge(batch))
      assert(res.rewrittenFiles.map(_.split('/').last) === Seq(src.split('/').last))
      assert(rec.rewriteJobs.size === 1, s"the rewrite ran as ${rec.rewriteJobs.size} jobs")
      assert(metrics("groupsReencoded") === dirty.size, s"$metrics")
      assert(metrics("groupsSpliced") === mins.size - dirty.size, s"$metrics")
      val out = Manifest.get(res.snapshotDir).fileNames
        .filterNot(m.fileNames.contains).map(f => s"${res.snapshotDir}/$f")
      assert(out.size === 1)
      // every clean group is in the output byte for byte
      val before = RowGroups.digests(src)
      val after = RowGroups.digests(out.head).toSet
      assert(before.indices.filterNot(g => after(before(g))) === dirty,
        "exactly the dirty groups were re-encoded")
      val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
      assert(got.count() === 90000L)
      assert(got.where(col("v") < 0).count() === dirty.size)
    }
  }

  test("a merge keeps the table's layout: codec and row-group size survive the rewrite") {
    val root = Files.createTempDirectory("graft-cowguard-layout").toString
    val t = groupedTable(root, ParquetLayout(rowGroupBytes = Some(256L * 1024),
      compression = "gzip"))
    val before = Manifest.get(s"$root/base").fileNames.toSet
    t.commit(upserts(Seq(30001L)))
    val latest = CdcMergeSink.latestSnapshot(root)
    val rewritten = Manifest.get(latest).fileNames.filterNot(before)
      .map(f => MutableParquetTable.resolvePath(latest, f))
    assert(rewritten.size === 1)
    val bs = footer(rewritten.head).getBlocks.asScala.toSeq
    assert(bs.size > 1, "the rewritten file keeps its row groups")
    assert(bs.forall(_.getColumns.asScala.forall(_.getCodec == CompressionCodecName.GZIP)),
      "the rewritten file keeps the table's codec")
    assert(bs.forall(_.getCompressedSize <= 384L * 1024),
      s"row groups stay near 256 KB: ${bs.map(_.getCompressedSize)}")
  }

  test("a bucketed merge is the routing pass plus one rewrite job; clean groups stay raw") {
    val root = Files.createTempDirectory("graft-cowguard-bkt").toString
    val df = spark.range(0, 40000).select(col("id").as("k"), (col("id") * 7).as("v"),
      sha2(col("id").cast("string"), 256).as("s"))
    GraftTable.create(df, root, "k", numFiles = 1,
      ParquetLayout(rowGroupBytes = Some(64L * 1024)), buckets = Some(4))
    val base = s"$root/base"
    val before = Manifest.get(base).fileNames.toSet
    // one updated key: its bucket's one file is the only dirty file, one
    // of its groups the only dirty group
    val (res, jobs) = JobLog.recording(spark)(
      MutableParquetTable(spark, base, "k").merge(upserts(Seq(20001L))))
    // no dirty-bucket collect, no bucketed shuffle write, no footer sweep
    assert(jobs.size === 2 &&
      jobs.count(_.calledFrom("graft.sources.CowRewrite$.run")) === 1 &&
      jobs.count(_.calledFrom("MutableParquetTable.routed")) === 1,
      s"${jobs.size} jobs: ${jobs.map(_.names)}")
    assert(res.rewrittenFiles.size === 1)
    val src = res.rewrittenFiles.head
    val out = Manifest.get(res.snapshotDir).fileNames.filterNot(before)
      .map(f => s"${res.snapshotDir}/$f")
    assert(out.size === 1)
    assert(graft.sources.GraftBucket.bucketOfName(out.head.split('/').last) ===
      graft.sources.GraftBucket.bucketOfName(src.split('/').last))
    val groups = RowGroups.digests(src)
    assert(groups.size >= 4, s"want several row groups per bucket file, got ${groups.size}")
    assert(RowGroups.copied(src, out.head) === groups.size - 1,
      "every clean group of the bucket file is copied byte for byte")
    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    assert(got.count() === 40000L)
    assert(got.where(col("v") < 0).select("k").collect().map(_.getLong(0)).toSeq === Seq(20001L))
  }

  test("whole-table rewrites keep the table's layout: replace, purging compact, zorder, rebucket, truncate") {
    val wh = Files.createTempDirectory("graft-cowguard-wlayout").toString
    spark.conf.set("spark.sql.catalog.gwl", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwl.root", wh)
    val root = s"$wh/ns/t"
    val t = groupedTable(root, ParquetLayout(rowGroupBytes = Some(256L * 1024),
      compression = "gzip"))
    def assertLayout(what: String): Unit = {
      val latest = CdcMergeSink.latestSnapshot(root)
      val bs = Manifest.get(latest).fileNames
        .map(f => MutableParquetTable.resolvePath(latest, f))
        .flatMap(f => footer(f).getBlocks.asScala)
      assert(bs.size > 1, s"$what: one row group")
      assert(bs.forall(_.getColumns.asScala.forall(_.getCodec == CompressionCodecName.GZIP)),
        s"$what: the table's codec is lost")
      assert(bs.forall(_.getCompressedSize <= 384L * 1024),
        s"$what: row groups outgrow 256 KB: ${bs.map(_.getCompressedSize)}")
    }
    t.replace(t.read().localCheckpoint())
    assertLayout("replace")
    t.dropColumn("v")
    t.compact(64L << 20)
    assertLayout("compact after DROP COLUMN")
    spark.sql("CALL gwl.system.zorder(table => 'ns.t', dims => 'k')").collect()
    assertLayout("zorder")
    t.rebucket(Some(4))
    assertLayout("rebucket")
    assert(t.read().count() === 90000L)
    // an empty replace (TRUNCATE) keeps the layout for the next load,
    // which writes each bucket's new file under it
    val rows = t.read().localCheckpoint()
    t.replace(rows.limit(0))
    assert(t.read().count() === 0L)
    t.commit(rows.withColumn("op", lit("upsert")))
    assertLayout("TRUNCATE then insert")
    assert(t.read().count() === 90000L)
  }

  test("a table with a struct key created through create gets clean groups copied raw") {
    val root = Files.createTempDirectory("graft-cowguard-nested").toString
    val df = spark.range(0, 30000).select(
      struct(concat(lit("k"), lpad(col("id").cast("string"), 8, "0")).as("uuid"),
        col("id").as("age")).as("person"),
      sha2(col("id").cast("string"), 256).as("s"))
    GraftTable.create(df, root, "person.uuid", numFiles = 2,
      ParquetLayout(rowGroupBytes = Some(64L * 1024)))
    val base = s"$root/base"
    val before = Manifest.get(base).fileNames.toSet
    val batch = df.where(col("person.uuid") === "k00012345")
      .withColumn("s", lit("new")).withColumn("op", lit("upsert"))
    val res = MutableParquetTable(spark, base, "person.uuid").merge(batch)
    assert(res.rewrittenFiles.size === 1)
    val src = res.rewrittenFiles.head
    val out = Manifest.get(res.snapshotDir).fileNames.filterNot(before)
      .map(f => s"${res.snapshotDir}/$f")
    assert(out.size === 1 && RowGroups.digests(src).size > 2)
    assert(RowGroups.copied(src, out.head) > 0,
      "a nested-key table must splice its clean row groups")
    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    assert(got.count() === 30000L && got.where(col("s") === "new").count() === 1)
  }
}
