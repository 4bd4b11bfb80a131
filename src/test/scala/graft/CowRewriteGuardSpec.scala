package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.sources.{Manifest, MutableParquetTable}

/** Pins the Spark work of the key-clustered merge's rewrite: one job of
  * at most `defaultParallelism` result tasks, in which only the batch is
  * shuffled — and no rewrite job at all for a no-op merge. */
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
}
