package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.MutableParquetTable

/** Merges on OVERLAPPED layouts — file key ranges that intersect, as
  * z-order (or any non-key clustering) produces. Owner-routing plus
  * non-cut expansion would mark the whole overlapping cluster dirty
  * (full rewrite per merge); the exact holder join must instead rewrite
  * only the files that really hold a batch key, and never treat one
  * file as owning a key another file holds (a stale duplicate). */
class OverlapMergeSpec extends SparkSpec {

  /** 4 files, file i holding keys ≡ i (mod 4): every file's key range
    * spans nearly the whole domain — maximal overlap, each key in
    * exactly one file. */
  private def writeOverlapped(n: Long = 4000): String = {
    val dir = Files.createTempDirectory("graft-overlap").toString
    val df = spark.range(0, n)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
    (0 until 4).foreach { i => // one file per residue class, deterministic
      df.where(pmod(col("k"), lit(4)) === i)
        .coalesce(1).sortWithinPartitions("k")
        .write.mode("append").parquet(dir)
    }
    dir
  }

  private def state(dir: String): Map[Long, Long] =
    spark.read.parquet(dir).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def batch(ups: Seq[(Long, Long)], dels: Seq[Long]): DataFrame = {
    val s = spark; import s.implicits._
    (ups.map { case (k, v) => (k, v, "upsert") } ++
      dels.map(k => (k, 0L, "delete"))).toDF("k", "v", "op")
  }

  test("point merge rewrites ONLY the true holder file") {
    val dir = writeOverlapped()
    val expect = state(dir) ++ Map(100L -> -1L, 200L -> -2L) - 300L
    // 100, 200, 300 are all ≡ 0 (mod 4): one holder file
    val res = MutableParquetTable(spark, dir, "k")
      .merge(batch(Seq(100L -> -1L, 200L -> -2L), Seq(300L)))
    assert(res.rewrittenFiles.size === 1,
      s"expected exactly the holder file dirty, got ${res.rewrittenFiles}")
    assert(res.passthroughFiles.size === 3)
    assert(state(res.snapshotDir) === expect)
  }

  test("inserts land once; chained merges on the overlapped layout stay exact") {
    val dir = writeOverlapped()
    val t = MutableParquetTable(spark, dir, "k")
    // both keys absent everywhere -> no holder, one new insert file
    val r1 = t.merge(batch(Seq(10000L -> 1L, 10001L -> 2L), Nil))
    assert(r1.rewrittenFiles.isEmpty)
    assert(r1.insertedFileCount === 1)
    val expect1 = state(dir) ++ Map(10000L -> 1L, 10001L -> 2L)
    assert(state(r1.snapshotDir) === expect1)
    // second merge touches the fresh insert file AND an original file
    val r2 = MutableParquetTable(spark, r1.snapshotDir, "k")
      .merge(batch(Seq(10000L -> 5L, 5L -> -5L), Nil))
    assert(r2.rewrittenFiles.size === 2,
      s"holder files of 10000 and 5, got ${r2.rewrittenFiles}")
    assert(state(r2.snapshotDir) === expect1 ++ Map(10000L -> 5L, 5L -> -5L))
  }

  test("delete-only probe of absent keys is metadata-only") {
    val dir = writeOverlapped()
    val before = state(dir)
    val res = MutableParquetTable(spark, dir, "k")
      .merge(batch(Nil, Seq(99999L, -7L)))
    assert(res.rewrittenFiles.isEmpty)
    assert(res.insertedFileCount === 0)
    assert(res.passthroughFiles.size === 4)
    assert(state(res.snapshotDir) === before)
  }

  test("mergeFineGrained falls back to the exact file-level merge (no stale duplicates)") {
    val dir = writeOverlapped()
    // owner-routing (last min <= key) would send key 100 to the file with
    // the GREATEST min (keys ≡ 3 mod 4) — but 100 lives in the ≡ 0 file;
    // rewriting the owner alone would insert a second copy and leave the
    // old row behind
    val res = MutableParquetTable(spark, dir, "k")
      .merge(batch(Seq(100L -> -1L), Nil))
    val rows = spark.read.parquet(res.snapshotDir)
      .where(col("k") === 100).collect()
    assert(rows.length === 1, s"stale duplicate survived: ${rows.toSeq}")
    assert(rows.head.getLong(1) === -1L)
  }

  test("composite keys route by full tuple on overlapped layouts") {
    val dir = Files.createTempDirectory("graft-overlap-ck").toString
    val df = spark.range(0, 2000)
      .select((col("id") % 500).as("k"), expr("id DIV 500").as("u"),
        col("id").as("v"))
    (0 until 4).foreach { i =>
      df.where(pmod(col("k"), lit(4)) === i)
        .coalesce(1).sortWithinPartitions("k", "u")
        .write.mode("append").parquet(dir)
    }
    val t = MutableParquetTable(spark, dir, "k", moreKeys = Seq("u"))
    val s = spark; import s.implicits._
    val b = Seq((8L, 1L, -1L, "upsert"), // existing tuple (k=8,u=1)
                (8L, 9L, -2L, "upsert"), // new tuple, same leading key
                (12L, 2L, 0L, "delete"))
      .toDF("k", "u", "v", "op")
    val res = t.merge(b)
    val got = spark.read.parquet(res.snapshotDir)
      .where(col("k").isin(8L, 12L)).select("k", "u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before: Set[(Long, Long, Long)] = spark.read.parquet(dir)
      .where(col("k").isin(8L, 12L)).select("k", "u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = before.filterNot(t =>
      (t._1, t._2) == (8L, 1L) || (t._1, t._2) == (12L, 2L)) ++
      Set((8L, 1L, -1L), (8L, 9L, -2L))
    assert(got === expect)
  }
}
