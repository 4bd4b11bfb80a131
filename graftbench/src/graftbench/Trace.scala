package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer recorder for the traced run. Everything is observed from
  * outside the engine: bench-side spans, a bench-registered Spark
  * listener, the commit results the engine already returns, JVM GC beans
  * and `/proc/self/io`. Spans and counters stay in memory and are written
  * to a file once, when the run ends.
  *
  * Measured ops of each type alternate between traced and untraced,
  * starting traced ([[beginOp]]); only traced ops drain the listener bus
  * and feed the per-layer accumulators, and the latency difference
  * between the two halves is the tracing overhead. */
final class Trace(val enabled: Boolean, sc: SparkContext, slots: Int) {

  /** Spark and span totals for one operation type. */
  final class Acc {
    var n = 0L
    var spanMs, selfMs = 0.0
    var jobs, stages, tasks, runMs, cpuMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
  }

  /** Attributes every listener event to the span that is open. The bus
    * is drained when a span opens and closes, so no event of one span is
    * processed while another is current. */
  private object Listener extends SparkListener {
    @volatile var current: Acc = null
    val jobStart = mutable.Map.empty[Int, Long]
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val a = current
      if (a != null) { a.jobs += 1; jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (current != null)
        jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = current
      if (a != null) a.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = current
      val m = e.taskMetrics
      if (a != null && m != null) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1000000L
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val accs = mutable.LinkedHashMap.empty[String, Acc]
  /** Named sums, each with the number of values added, so a metric can
    * be reported as a total or as a mean per occurrence. */
  private val sums = mutable.LinkedHashMap.empty[String, (Double, Long)]
  /** Every closed span: (name, start epoch ms, span ms, self ms). */
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Double, Double)]
  /** Op latencies (s) by op type, for traced and for untraced ops. */
  private val latTraced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val latPlain = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  var opTraced = false
  def active: Boolean = enabled && opTraced
  private val opsSeen = mutable.Map.empty[String, Int]

  /** Called as an op of type `kind` starts: the 1st, 3rd, ... measured op
    * of each type is traced, the others are not; warm-up ops never are. */
  def beginOp(kind: String, measuring: Boolean): Unit = {
    val k = if (measuring) opsSeen.getOrElse(kind, 0) else 1
    if (measuring) opsSeen(kind) = k + 1
    opTraced = enabled && k % 2 == 0
  }

  if (enabled) sc.addSparkListener(Listener)

  private def drain(): Unit = org.apache.spark.GraftBenchBus.drain(sc)

  /** Time `body` as a span of operation type `name`. Nested spans take
    * over attribution until they close and then hand it back. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      drain()
      val parent = Listener.current
      val acc = accs.getOrElseUpdate(name, new Acc)
      Listener.jobIntervals.clear()
      Listener.current = acc
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      try body
      finally {
        val ms = (System.nanoTime - t0) / 1e6
        drain()
        val endMs = startMs + ms.toLong
        // driver-side time: the part of the span with no Spark job running
        val busy = union(Listener.jobIntervals.toSeq.map { case (s, e) =>
          (math.max(s, startMs), math.min(e, endMs)) }.filter(i => i._2 > i._1))
        Listener.current = parent
        Listener.jobIntervals.clear()
        val self = math.max(0.0, ms - busy)
        acc.n += 1; acc.spanMs += ms; acc.selfMs += self
        spans += ((name, startMs, ms, self))
      }
    }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Add `v` to the named sum (only while a traced op runs). */
  def add(name: String, v: Double): Unit = if (active) {
    val (s, n) = sums.getOrElse(name, (0.0, 0L))
    sums(name) = (s + v, n + 1)
  }
  def total(name: String): Double = sums.get(name).map(_._1).getOrElse(0.0)
  def mean(name: String): Double =
    sums.get(name).map { case (s, n) => if (n == 0) 0.0 else s / n }
      .getOrElse(0.0)

  /** Record an op latency for the overhead estimate. */
  def latency(kind: String, seconds: Double): Unit = if (enabled) {
    val m = if (opTraced) latTraced else latPlain
    m.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds
  }

  /** Relative latency cost of tracing: per op type the traced median over
    * the untraced median, weighted by the untraced time of that type. */
  def overheadFrac: Double = {
    val both = latTraced.keySet.intersect(latPlain.keySet).toSeq
    val w = both.map(k => Stats.median(latPlain(k).toSeq) * latPlain(k).size)
    val d = both.map(k => (Stats.median(latTraced(k).toSeq) -
      Stats.median(latPlain(k).toSeq)) * latPlain(k).size)
    if (w.sum <= 0) 0.0 else d.sum / w.sum
  }

  /** Per-op-type Spark and span metrics, as means per traced op. */
  def opMetrics(kind: String): Seq[(String, Double, String)] = {
    val a = accs.getOrElse(kind, new Acc)
    val n = math.max(a.n, 1L).toDouble
    Seq(
      (s"span.$kind.ms", a.spanMs / n, "ms"),
      (s"span.$kind.self_ms", a.selfMs / n, "ms"),
      (s"spark.$kind.jobs", a.jobs / n, "count"),
      (s"spark.$kind.tasks", a.tasks / n, "count"),
      (s"spark.$kind.task_run_ms", a.runMs / n, "ms"),
      (s"spark.$kind.task_cpu_ms", a.cpuMs / n, "ms"),
      (s"spark.$kind.shuffle_read_bytes", a.shuffleRead / n, "bytes"),
      (s"spark.$kind.slot_busy_frac",
        if (a.spanMs <= 0) 0.0 else a.runMs / (a.spanMs * slots), "ratio"))
  }

  /** Spark totals over all traced ops, as means per traced op. */
  def sparkTotals: Seq[(String, Double, String)] = {
    val all = accs.values
    val n = math.max(all.map(_.n).sum, 1L).toDouble
    Seq(
      ("spark.stages", all.map(_.stages).sum / n, "count"),
      ("spark.shuffle_write_bytes", all.map(_.shuffleWrite).sum / n, "bytes"),
      ("spark.spill_bytes", all.map(_.spill).sum / n, "bytes"))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(Listener)

  /** Write every span and counter as one JSON document. */
  def writeFile(path: java.nio.file.Path, header: Map[String, String]): Unit = {
    val sb = new StringBuilder("{")
    header.foreach { case (k, v) => sb ++= Json.str(k) += ':' ++= Json.str(v) += ',' }
    sb ++= "\"spans\":["
    sb ++= spans.map { case (n, s, ms, self) =>
      s"""{"op":${Json.str(n)},"start_ms":$s,"ms":${Json.num(ms)},"self_ms":${Json.num(self)}}"""
    }.mkString(",")
    sb ++= "],\"counters\":{"
    sb ++= sums.map { case (k, (s, n)) =>
      s"""${Json.str(k)}:{"sum":${Json.num(s)},"n":$n}""" }.mkString(",")
    sb ++= "},\"spark\":{"
    sb ++= accs.map { case (k, a) =>
      s"""${Json.str(k)}:{"ops":${a.n},"jobs":${a.jobs},"stages":${a.stages},""" +
        s""""tasks":${a.tasks},"task_run_ms":${a.runMs},"task_cpu_ms":${a.cpuMs},""" +
        s""""shuffle_read_bytes":${a.shuffleRead},"shuffle_write_bytes":${a.shuffleWrite},""" +
        s""""spill_bytes":${a.spill}}"""
    }.mkString(",")
    sb ++= "}}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** JVM and OS counters read at the start and end of the measured loop. */
object Host {
  import scala.jdk.CollectionConverters._

  def gc: (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum,
      beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  /** (read_bytes, write_bytes) of this process from `/proc/self/io`;
    * zeros where the file is unavailable. */
  def io: (Long, Long) = try {
    val kv = scala.io.Source.fromFile("/proc/self/io").getLines()
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("read_bytes", 0L), kv.getOrElse("write_bytes", 0L))
  } catch { case _: Exception => (0L, 0L) }

  /** Heap in use right after a full collection: the live set, not the
    * reserved heap. Collected twice, with pauses for Spark's
    * context cleaner to drop the blocks of unreachable checkpoints, so
    * the number does not depend on when the cleaner last ran. */
  def liveHeapMb(): Double = {
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / (1024.0 * 1024.0)
  }
}
