package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test-side record of the Spark jobs a block of code starts: for each
  * job, its stages' short call sites (`name`, e.g. "localCheckpoint at
  * Materialize.scala:40"), long ones (`details`, the driver stack that
  * submitted it) and task counts. Lets a spec pin which code paths run
  * jobs. */
object JobLog {

  final case class Job(id: Int, names: Seq[String], details: Seq[String],
                       tasks: Seq[Int]) {
    /** Whether any stage was submitted from a stack holding `frame`. */
    def calledFrom(frame: String): Boolean =
      details.exists(_.contains(frame))
  }

  private val Sentinel = "graft.test.joblog.sentinel"

  /** Run `body` and return its result with every job started meanwhile,
    * in start order. */
  def recording[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val ended = mutable.Set.empty[Int]
    var sentinel = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null))
          sentinel = e.jobId
        else {
          val stages = e.stageInfos.sortBy(_.stageId)
          jobs += Job(e.jobId, stages.map(_.name), stages.map(_.details),
            stages.map(_.numTasks))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        synchronized(ended += e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // listener delivery is asynchronous but in order: once a job run
      // after `body` has ended, every event of `body` has arrived
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Sentinel, null)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
          !listener.synchronized(ended(sentinel)))
        Thread.sleep(20)
      (out, listener.synchronized(jobs.toList))
    } finally sc.removeSparkListener(listener)
  }
}
