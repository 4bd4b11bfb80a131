package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{MutableParquetTable, ParquetTable}
import graft.streaming.CdcMergeSink

/** Object-store passthrough: manifest-REFERENCED clean files (zero
  * filesystem ops — no hard links, no copies) and reference-counted
  * vacuum. This is the CoW mode that keeps the reference's partial-
  * rewrite economics (README.md:109-111) on S3/GCS, where hard links
  * don't exist and a copy fallback would turn every "metadata-only"
  * merge into a full-table copy. */
class ReferencePassthroughSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-ref").toString

  private def listParquet(dir: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  test("reference merge writes ZERO clean-file bytes into the snapshot") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val df = (0L until 1000L).map(k => (k, k * 3)).toDF("k", "v")
    ParquetTable.writeSorted(df, dir, "k", 8)
    val batch = Seq((5L, -5L, "upsert"), (990L, -990L, "upsert"))
      .toDF("k", "v", "op")

    val t = MutableParquetTable(spark, dir, "k", MutableParquetTable.Reference)
    val res = t.merge(batch)

    // telemetry: every clean file referenced, nothing linked or copied
    assert(res.filesReferenced === res.passthroughFiles.size)
    assert(res.filesReferenced >= 6)
    assert(res.filesHardLinked === 0)
    assert(res.filesCopied === 0, "fallback copy is forbidden in Reference mode")
    assert(res.summaryJson.contains("\"filesCopied\":0"))

    // the snapshot dir physically holds ONLY the rewritten files
    val localNames = listParquet(res.snapshotDir).map(_.getFileName.toString)
    val cleanNames = res.passthroughFiles
      .map(f => Paths.get(f).getFileName.toString).toSet
    assert(localNames.nonEmpty && localNames.forall(n => !cleanNames(n)))

    // manifest entries for clean files are ../ references
    val manifest = graft.sources.Manifest.read(res.snapshotDir).get
    assert(manifest.fileNames.exists(_.startsWith("../")))

    // committed read resolves references and matches the merge semantics
    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = MergeOpsRef.expected(df.collect().map(r => (r.getLong(0), r.getLong(1))),
      Map(5L -> -5L, 990L -> -990L), Set.empty)
    assert(got.toSeq === want)

    // manifest-pruned range scan works through references
    val ranged = MutableParquetTable.readRange(spark, res.snapshotDir, 5L, 7L)
      .orderBy("k").collect().map(_.getLong(1))
    assert(ranged.toSeq === Seq(-5L, 18L, 21L))
  }

  test("chained reference merges re-reference the ORIGINAL file location") {
    val s = spark; import s.implicits._
    val root = freshDir()
    val base = s"$root/base"
    val df = (0L until 600L).map(k => (k, k)).toDF("k", "v")
    ParquetTable.writeSorted(df, base, "k", 6)

    val t1 = MutableParquetTable(spark, base, "k", MutableParquetTable.Reference)
    val r1 = t1.merge(Seq((1L, -1L, "upsert")).toDF("k", "v", "op"),
      snapshotDir = Some(s"$root/v1"))
    val t2 = MutableParquetTable(spark, r1.snapshotDir, "k",
      MutableParquetTable.Reference)
    val r2 = t2.merge(Seq((599L, -599L, "upsert")).toDF("k", "v", "op"),
      snapshotDir = Some(s"$root/v2"))

    // v2's clean files resolve to where they PHYSICALLY live: the
    // untouched ones to base/, v1's rewrite to v1/ — never via a chain
    // of indirections
    val v2Files = MutableParquetTable.manifestFileNames(r2.snapshotDir).get
      .map(n => MutableParquetTable.resolvePath(r2.snapshotDir, n))
    assert(v2Files.exists(_.startsWith(s"$base/")), "base files referenced in place")
    assert(v2Files.exists(_.startsWith(s"$root/v1/")), "v1 rewrite referenced")
    assert(v2Files.forall(f => Files.exists(Paths.get(f))))

    val got = MutableParquetTable.readCommitted(spark, r2.snapshotDir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 600)
    assert(got(1) === (1L, -1L))
    assert(got(599) === (599L, -599L))

    // the graft SQL source reads the referencing snapshot (and answers
    // COUNT(*) from the manifest alone)
    val viaSource = spark.read.format("graft").load(r2.snapshotDir)
    assert(viaSource.count() === 600)
  }

  test("link mode on the local rig: all links, zero copies (telemetry)") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    ParquetTable.writeSorted(
      (0L until 500L).map(k => (k, k)).toDF("k", "v"), dir, "k", 5)
    val t = MutableParquetTable(spark, dir, "k") // default Link
    val res = t.merge(Seq((3L, -3L, "upsert")).toDF("k", "v", "op"))
    assert(res.filesHardLinked === res.passthroughFiles.size)
    assert(res.filesCopied === 0)
    assert(res.filesReferenced === 0)
  }

  test("vacuum reference-counts: shared files survive until the last referencing version goes") {
    val s = spark; import s.implicits._
    val root = freshDir()
    GraftTable.create(
      spark.range(0, 400).select(col("id"), (col("id") * 2).as("v")),
      root, "id", numFiles = 4)
    val t = GraftTable(spark, root, "id",
      graft.sources.MutableParquetTable.Reference)

    // v0 touches one file; v1..v2 touch one file each, leaving the rest
    // referenced across versions
    t.commit(Seq((1L, -1L, "upsert")).toDF("id", "v", "op"))
    t.commit(Seq((399L, -399L, "upsert")).toDF("id", "v", "op"))
    t.commit(Seq((2L, -2L, "upsert")).toDF("id", "v", "op"))
    assert(t.versions === Seq(0L, 1L, 2L))

    // v2 references v0's rewrite of the low file? No: v2 rewrote it
    // again. v1's rewrite (high file) IS still referenced by v2.
    val v2Files = graft.sources.MutableParquetTable
      .manifestFileNames(s"$root/v2").get
      .map(n => graft.sources.MutableParquetTable.resolvePath(s"$root/v2", n))
    val v1Owned = v2Files.filter(_.startsWith(s"$root/v1/"))
    assert(v1Owned.nonEmpty, "v2 must reference v1's rewritten file")

    // dropping v0 and v1 must keep v1's still-referenced file alive
    val dropped = t.vacuum(keepLast = 1)
    assert(dropped === Seq(0L, 1L))
    assert(t.versions === Seq(2L))
    assert(v1Owned.forall(f => Files.exists(Paths.get(f))),
      "files referenced by the retained version must survive vacuum")
    // v0's dir held only files no longer referenced — fully reclaimed
    assert(!Files.exists(Paths.get(s"$root/v0")))
    // v1's dir survives as a decommitted file store (pinned files only)
    assert(!graft.sources.MutableParquetTable.isCommitted(s"$root/v1"))

    // the retained version still reads correctly after the sweep
    val got = t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 400)
    assert(got(1) === (1L, -1L) && got(2) === (2L, -2L) && got(399) === (399L, -399L))

    // a commit that rewrites v1's file ends its references; the next
    // vacuum reclaims the leftover dir entirely
    t.commit(Seq((398L, -398L, "upsert")).toDF("id", "v", "op"))
    t.vacuum(keepLast = 1)
    assert(!Files.exists(Paths.get(s"$root/v1")),
      "unreferenced leftover dir must be reclaimed by the next vacuum")
  }

  test("change feed across referencing snapshots stays delta-priced and exact") {
    val s = spark; import s.implicits._
    val root = freshDir()
    GraftTable.create(
      spark.range(0, 300).select(col("id"), col("id").as("v")),
      root, "id", numFiles = 3)
    val t = GraftTable(spark, root, "id",
      graft.sources.MutableParquetTable.Reference)
    t.commit(Seq((7L, -7L, "upsert")).toDF("id", "v", "op"))
    t.commit(Seq((8L, -8L, "upsert"), (7L, 0L, "delete")).toDF("id", "v", "op"))

    val feed = t.changeFeed(0L, 1L).orderBy("id").collect()
    assert(feed.length === 2)
    assert(feed(0).getAs[String]("change_type") === "delete")
    assert(feed(0).getLong(0) === 7L)
    assert(feed(1).getAs[String]("change_type") === "update")
    assert(feed(1).getLong(0) === 8L)
  }

  test("compaction folds a referencing snapshot's FULL inventory") {
    val s = spark; import s.implicits._
    val root = freshDir()
    GraftTable.create(
      spark.range(0, 500).select(col("id"), col("id").as("v")),
      root, "id", numFiles = 5)
    val t = GraftTable(spark, root, "id",
      graft.sources.MutableParquetTable.Reference)
    t.commit(Seq((10L, -10L, "upsert")).toDF("id", "v", "op"))
    val before = t.read().orderBy("id").collect().map(_.toSeq).toSeq
    t.compact(targetBytes = Long.MaxValue)
    val after = t.read().orderBy("id").collect().map(_.toSeq).toSeq
    assert(after === before)
    assert(after.length === 500)
  }
}

/** Expected-state helper shared by the reference-mode asserts. */
private object MergeOpsRef {
  def expected(base: Seq[(Long, Long)], upserts: Map[Long, Long],
               deletes: Set[Long]): Seq[(Long, Long)] = {
    val m = scala.collection.mutable.TreeMap.empty[Long, Long]
    base.foreach { case (k, v) => m(k) = v }
    upserts.foreach { case (k, v) => m(k) = v }
    deletes.foreach(m.remove)
    m.toSeq
  }
}
