package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ConcurrentCommit

/** `cdc_serve`: a seeded stream of pre-materialized mutation batches
  * (three clustered to one scattered) committed as CoW merges, with a
  * fixed read mix served between the commits: point lookups, key-range
  * aggregates, a full-scan group-by, an as-of read of an older version
  * and the change feed of one committed version.
  *
  * Every commit is checked against the driver-side [[Model]] (version and
  * manifest row count) and every read against the model of the version
  * it read. After the loop the final snapshot is compared with the state
  * plain DataFrame operations derive from the same batches. */
final class CdcServe(spark: SparkSession, seed: Long, scale: Scale) extends Workload {
  import Lineitem.Key
  val name = "cdc_serve"

  private val Clustered = Kind("commit.clustered", primary = false, write = true, Some("commit"))
  private val Scattered = Kind("commit.scattered", primary = false, write = true, Some("commit"))
  private def read(kind: String) = Kind(kind, primary = true, write = false, Some(kind))
  private val Point = read("read.point")
  private val Range = read("read.range")
  private val Scan = read("read.scan")
  private val AsOf = read("read.asof")
  private val Feed = read("read.feed")

  private val clusteredRows = (scale.rows * 3 / 100).toInt
  private val scatteredRows = math.max(8, (scale.rows * 2 / 1000).toInt)
  private val baseSalt = seed * 1000003L + 1L

  private var dir: Path = _
  private var root: String = _
  private var model: Model = _
  private var stream: Lineitem.Stream = _
  private var rng: java.util.SplittableRandom = _
  private var batchSeq = 0
  private var pending = Iterator.empty[(Kind, Lineitem.Batch, String)]
  private var measuredBatchBytes = 0L
  /** Batches committed so far, in commit order. */
  private val committed = mutable.ArrayBuffer.empty[String]
  private var lastCommit: Option[OpRecord] = None
  /** Per committed version: expected as-of answer and change feed. */
  private val asOfWant = mutable.Map.empty[Long, Map[String, (Long, Double)]]
  private val feedWant = mutable.Map.empty[Long, Map[String, (Long, Long)]]
  private val clusteredVersions = mutable.ArrayBuffer.empty[Long]

  def storageRoots: Seq[String] = Seq(root)
  def tables: Seq[String] = Seq(root)
  def batchBytes: Long = measuredBatchBytes

  def setup(d: Path): Unit = {
    dir = d
    root = d.resolve("table").toString
    graft.GraftTable.create(Lineitem.base(spark, scale.rows, baseSalt), root,
      Key, scale.files)
    model = new Model(scale.rows, baseSalt)
    stream = new Lineitem.Stream(seed, scale.rows)
    rng = new java.util.SplittableRandom(seed * 31L + 5L)
    batchSeq = 0
    pending = Iterator.empty
    committed.clear(); asOfWant.clear(); feedWant.clear(); clusteredVersions.clear()
    lastCommit = None
    measuredBatchBytes = 0L
    refill()
  }

  /** Three commits (scattered, clustered, clustered: the warm-up took the
    * first clustered batch) and three reads of every type. */
  def cycle: Seq[Harness => Unit] = Seq(
    commit, point, range, scan, asOf, feed,
    commit, point, range, scan, asOf, feed,
    point, commit, range, scan, asOf, feed)

  /** Materialize the next cycle's batches as Parquet in one job: one
    * clustered, one scattered, two clustered. */
  private def refill(): Unit = {
    val bs = (0 until 4).map(i =>
      if (i == 1) (Scattered, stream.scattered(scatteredRows, 0.3))
      else (Clustered, stream.clustered(clusteredRows)))
    val out = dir.resolve(s"batches-$batchSeq").toString
    val first = batchSeq
    batchSeq += bs.size
    bs.zipWithIndex.map { case ((_, b), i) =>
      Lineitem.batchFrame(spark, b).withColumn("b", lit(first + i))
    }.reduce(_ unionByName _)
      .repartition(col("b"))
      .write.partitionBy("b").parquet(out)
    pending = bs.zipWithIndex.map { case ((k, b), i) =>
      (k, b, s"$out/b=${first + i}") }.iterator
  }

  private val commit: Harness => Unit = h => {
    if (!pending.hasNext) refill()
    val (kind, b, path) = pending.next()
    val bytes = Storage.dirBytes(Seq(path))
    val (rec, res) = h.run(kind, b.size.toLong) {
      graft.OptimisticCommit.commit(spark, root, Key, spark.read.parquet(path))
    }
    res.foreach { cc =>
      val expectVersion = committed.size.toLong
      val feed = model.apply(b)
      committed += path
      lastCommit = Some(rec)
      asOfWant(cc.version) = model.flagGroups
      feedWant(cc.version) = feed
      if (kind == Clustered) clusteredVersions += cc.version
      if (h.measuring) measuredBatchBytes += bytes
      h.check(rec) {
        val rows = graft.sources.MutableParquetTable
          .manifestExactRowCount(s"$root/v${cc.version}")
        if (cc.version != expectVersion)
          Some(s"landed as v${cc.version}, expected v$expectVersion")
        else if (cc.merge.isEmpty) Some("commit returned no merge")
        else if (!rows.contains(model.count))
          Some(s"v${cc.version} manifest lists $rows rows, expected ${model.count}")
        else None
      }
      if (h.trace.active) recordCommit(h.trace, cc, rec.seconds * 1000.0, bytes)
    }
  }

  private def recordCommit(t: Trace, cc: ConcurrentCommit, spanMs: Double,
                           batchBytes: Long): Unit = cc.merge.foreach { m =>
    Seq("ranges", "route", "link", "rewrite", "manifest").foreach(p =>
      t.add(s"merge.${p}_ms", m.phaseMillis.getOrElse(p, 0L).toDouble))
    t.add("occ.protocol_ms", spanMs - m.phaseMillis.values.sum)
    t.add("occ.attempts", cc.attempts.toDouble)
    t.add("occ.rebases", cc.rebases.toDouble)
    t.add("merge.files_rewritten", m.rewrittenFiles.size.toDouble)
    t.add("merge.files_linked", m.filesHardLinked.toDouble)
    t.add("merge.files_referenced", m.filesReferenced.toDouble)
    t.add("merge.files_copied", m.filesCopied.toDouble)
    t.add("merge.bytes_rewritten_input", m.bytesRewrittenInput.toDouble)
    t.add("merge.bytes_written", m.bytesWritten.toDouble)
    t.add("merge.batch_bytes", batchBytes.toDouble)
  }

  private def graftRead: DataFrame = spark.read.format("graft").load(root)

  /** Files the last graft-source scan planned vs the latest manifest. */
  private def scanStats(h: Harness): Unit = if (h.trace.active) {
    val planned = graft.sources.GraftSource.lastScanFiles.size.toDouble
    val total = graft.sources.MutableParquetTable.manifestFileNames(
      graft.streaming.CdcMergeSink.latestSnapshot(root)).map(_.size).getOrElse(0)
      .toDouble
    h.trace.add("scan.files_planned", planned)
    h.trace.add("scan.files_total", total)
    h.trace.add("scan.prune_ratio", if (total <= 0) 0.0 else 1.0 - planned / total)
  }

  private def dbl(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)

  private val point: Harness => Unit = h => {
    val k = rng.nextLong(stream.maxKey)
    val (rec, res) = h.run(Point) {
      graftRead.where(col(Key) === k)
        .select(col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"), col("l_linestatus")).collect()
    }
    scanStats(h)
    res.foreach(rows => h.check(rec) {
      val got = rows.map(r => (r.getDouble(0), r.getDouble(1), r.getString(2),
        r.getString(3))).toSeq
      val want = model.point(k).toSeq
      if (got == want) None else Some(s"key $k: got $got want $want")
    })
  }

  private val range: Harness => Unit = h => {
    val w = math.max(10L, stream.maxKey / 50)
    val lo = rng.nextLong(math.max(1L, stream.maxKey - w))
    val hi = lo + w - 1
    val (rec, res) = h.run(Range) {
      graftRead.where(col(Key).between(lo, hi))
        .agg(count(lit(1)), sum(col("l_quantity")), sum(col("l_extendedprice")))
        .head()
    }
    scanStats(h)
    res.foreach(r => h.check(rec) {
      val (n, q, p) = model.range(lo, hi)
      if (r.getLong(0) == n && Close(dbl(r, 1), q) && Close(dbl(r, 2), p)) None
      else Some(s"[$lo, $hi]: got $r want ($n, $q, $p)")
    })
  }

  private val scan: Harness => Unit = h => {
    val (rec, res) = h.run(Scan) {
      graftRead.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)), sum(col("l_quantity")), sum(col("l_extendedprice")))
        .collect()
    }
    scanStats(h)
    res.foreach(rows => h.check(rec) {
      val got = rows.map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      val want = model.groups
      val ok = got.keySet == want.keySet && got.forall { case (g, (n, q, p)) =>
        val (wn, wq, wp) = want(g); n == wn && Close(q, wq) && Close(p, wp) }
      if (ok) None else Some(s"group-by: got $got want $want")
    })
  }

  /** A committed version other than the latest, uniformly. */
  private def olderVersion(): Long = rng.nextLong(math.max(1, committed.size - 1).toLong)

  /** An older version written by a clustered batch: change feeds of
    * scattered batches read every file, so the feed's cost stays one kind. */
  private def olderClustered(): Long = {
    val vs = clusteredVersions.filter(_ < committed.size - 1)
    if (vs.isEmpty) 0L else vs(rng.nextInt(vs.size))
  }

  private val asOf: Harness => Unit = h => {
    val v = olderVersion()
    val (rec, res) = h.run(AsOf) {
      graft.GraftTable(spark, root, Key).readAsOf(v)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)), sum(col("l_quantity"))).collect()
    }
    res.foreach(rows => h.check(rec) {
      val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val want = asOfWant(v)
      val ok = got.keySet == want.keySet && got.forall { case (f, (n, q)) =>
        n == want(f)._1 && Close(q, want(f)._2) }
      if (ok) None else Some(s"as of v$v: got $got want $want")
    })
  }

  private val feed: Harness => Unit = h => {
    val v = olderClustered()
    val (rec, res) = h.run(Feed) {
      graft.GraftTable(spark, root, Key).changeFeed(v - 1, v)
        .groupBy(col("change_type"))
        .agg(count(lit(1)), sum(col(Key))).collect()
    }
    res.foreach(rows => h.check(rec) {
      val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = feedWant(v)
      if (got == want) None else Some(s"feed v${v - 1}..v$v: got $got want $want")
    })
  }

  /** Order-independent content digest: (rows, distinct keys, checksum). */
  private def digest(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val cols = Lineitem.Columns.map(col)
    val r = df.select(cols: _*)
      .agg(count(lit(1)), countDistinct(col(Key)),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2))
  }

  /** The expected latest state from plain DataFrame operations: the base
    * anti-joined with every key a batch touched, unioned with each key's
    * last write where that write is an upsert. */
  private def expectedState(paths: Seq[String]): DataFrame = {
    val base = Lineitem.base(spark, scale.rows, baseSalt)
    val muts = paths.zipWithIndex.map { case (p, i) =>
      spark.read.parquet(p).withColumn("__seq", lit(i)) }.reduce(_ unionByName _)
    val last = muts
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(Key)).orderBy(col("__seq").desc)))
      .where(col("__rn") === 1 && col("op") === "upsert")
    base.join(muts.select(Key).distinct(), Seq(Key), "left_anti")
      .select(Lineitem.Columns.map(col): _*)
      .unionByName(last.select(Lineitem.Columns.map(col): _*))
  }

  def finish(h: Harness): Unit = lastCommit.foreach { rec =>
    val paths = committed.toSeq
    h.checkLater(rec) {
      val got = digest(graft.GraftTable(spark, root, Key).read())
      val want = digest(expectedState(paths))
      if (got._1 != got._2) Some(s"final snapshot has duplicate keys: $got")
      else if (got != want) Some(s"final snapshot $got != expected $want")
      else None
    }
  }

  def layerMetrics(t: Trace): Map[String, Double] = {
    val rewritten = t.total("merge.bytes_rewritten_input")
    Workload.layerNames.map(_._1).filter(n =>
      n.startsWith("merge.") || n.startsWith("occ.") || n.startsWith("scan."))
      .map {
        case n @ "merge.cow_useful_ratio" =>
          n -> (if (rewritten <= 0) 0.0 else t.total("merge.batch_bytes") / rewritten)
        case n => n -> t.mean(n)
      }.toMap
  }
}
