package graftbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** An operation type of a workload and the end-to-end metrics it feeds:
  * `primary` ops feed `op_*`, `write` ops feed `write_*`. `span` names
  * the per-layer span of the op; None when the op opens its own
  * sub-spans instead. */
final case class Kind(name: String, primary: Boolean, write: Boolean,
                      span: Option[String])

/** One op's outcome. A warm-up op is not counted; a failed check of one
  * aborts the run. */
final class OpRecord(val kind: Kind, val seconds: Double, val rows: Long,
                     val warmup: Boolean) {
  var error: Option[String] = None
}

/** Closed-loop op runner with failure accounting. Every op is counted as
  * attempted; an exception or a failed check marks it failed. A failed
  * op never contributes a latency sample, and its wall time still counts
  * against throughput. */
final class Harness(val trace: Trace, injectFailure: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  private val deferred = mutable.ArrayBuffer.empty[(OpRecord, () => Option[String])]
  private var injectPending = injectFailure
  /** Ops run while false are warm-up: not recorded, and a failed one
    * aborts the run. */
  var measuring = false

  /** Run and time one op. Returns its record and result (None on error). */
  def run[T](kind: Kind, rows: Long = 0L)(body: => T): (OpRecord, Option[T]) = {
    trace.beginOp(kind.name, measuring)
    val t0 = System.nanoTime
    val res = try {
      if (measuring && injectPending) {
        injectPending = false
        throw new IllegalStateException("deliberately injected failure")
      }
      val v = kind.span match {
        case Some(s) => trace.span(s)(body)
        case None => body
      }
      Right(v)
    } catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime - t0) / 1e9
    val rec = new OpRecord(kind, secs, rows, warmup = !measuring)
    if (measuring) {
      ops += rec
      trace.latency(kind.name, secs)
    }
    res match {
      case Left(e) =>
        rec.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        if (!measuring) throw e
        (rec, None)
      case Right(v) => (rec, Some(v))
    }
  }

  /** Check an op's result now (untimed). */
  def check(rec: OpRecord)(c: => Option[String]): Unit =
    if (rec.error.isEmpty) {
      val err = try c catch { case NonFatal(e) => Some(s"check threw $e") }
      if (!rec.warmup) rec.error = err
      else err.foreach(m => throw new IllegalStateException(
        s"warm-up ${rec.kind.name} failed its check: $m"))
    }

  /** Check an op's result after the measured loop (still untimed). */
  def checkLater(rec: OpRecord)(c: => Option[String]): Unit =
    deferred += ((rec, () => c))

  def runDeferred(): Unit = {
    deferred.foreach { case (rec, c) => check(rec)(c()) }
    deferred.clear()
  }

  def attempted: Long = ops.size.toLong
  def failed: Long = ops.count(_.error.nonEmpty).toLong
  def failures: Seq[String] =
    ops.flatMap(r => r.error.map(e => s"${r.kind.name}: $e")).toSeq
  /** Latencies of the successful ops whose kind matches, by op type. */
  def okByKind(p: Kind => Boolean): Map[String, Seq[Double]] =
    ops.filter(r => r.error.isEmpty && p(r.kind)).toSeq
      .groupBy(_.kind.name).map { case (k, rs) => k -> rs.map(_.seconds) }
  def all(p: OpRecord => Boolean): Seq[OpRecord] = ops.filter(p).toSeq
}


object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Geometric mean over op types of each type's median latency: every
    * type weighs the same however often the mix runs it, and no type's
    * share boundary can sit at a percentile. */
  def gmeanOfMedians(byType: Map[String, Seq[Double]]): Double =
    if (byType.isEmpty) Double.NaN
    else math.exp(byType.values.map(xs => math.log(median(xs))).sum / byType.size)

  /** Throughput per op type — units of work of its successful ops over
    * the wall time of all its ops, failed ones included — combined by
    * geometric mean, so the result does not depend on how many ops of
    * each type a run happened to complete. */
  def gmeanRate(ops: Seq[OpRecord], units: OpRecord => Long): Double = {
    val rates = ops.groupBy(_.kind.name).values.map(rs =>
      rs.filter(_.error.isEmpty).map(units).sum / rs.map(_.seconds).sum)
    if (rates.isEmpty) Double.NaN
    else math.exp(rates.map(math.log).sum / rates.size)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else d.toString
}

/** Filesystem accounting for write and space amplification. Hard links
  * share an inode, so every map here is keyed by inode and counts a
  * file's bytes once however many snapshots link it. */
object Storage {
  def inodes(dirs: Seq[String]): Map[AnyRef, Long] =
    dirs.filter(d => Files.isDirectory(Paths.get(d))).flatMap { d =>
      val s = Files.walk(Paths.get(d))
      try s.iterator().asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (a.isRegularFile) Some(a.fileKey() -> a.size()) else None
      }.toList
      finally s.close()
    }.toMap

  def bytes(m: Map[AnyRef, Long]): Long = m.values.sum

  /** Bytes of files under `dirs` (recursively). */
  def dirBytes(dirs: Seq[String]): Long = bytes(inodes(dirs))

  /** Bytes listed by the latest committed manifest of a graft table. */
  def manifestBytes(tableRoot: String): Long = {
    val latest = graft.streaming.CdcMergeSink.latestSnapshot(tableRoot)
    graft.sources.MutableParquetTable.manifestFileNames(latest)
      .getOrElse(throw new IllegalStateException(s"$latest has no manifest"))
      .map(n => Files.size(Paths.get(latest).resolve(n).normalize())).sum
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
