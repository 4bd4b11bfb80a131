package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{MutableParquetTable, ParquetTable}
import graft.streaming.CdcMergeSink

/** Metadata-priced `DELETE WHERE`: zone-map file classification
  * (drop whole / pass through / rewrite residual) on the Scala API and
  * the SQL DML surface, against the batch-merge path's semantics. */
class ZoneDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-zdel").toString

  /** 1000-row (k, grp, v) table in 8 key-disjoint files; returns the
    * table handle and its sorted per-file key ranges. */
  private def mkTable(root: String,
      passthrough: MutableParquetTable.Passthrough = MutableParquetTable.Link)
      : (GraftTable, Seq[graft.sources.ParquetStats.FileKeyRange]) = {
    val df = (0L until 1000L)
      .map(k => (k, s"g${k % 4}", k * 3)).toDF("k", "grp", "v")
    GraftTable.create(df, root, "k", numFiles = 8)
    val t = GraftTable(spark, root, "k", passthrough)
    val ranges = MutableParquetTable
      .manifestRanges(s"$root/base", "k").get
      .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    (t, ranges)
  }

  test("boundary-aligned key-range delete drops whole files, rewrites none") {
    val root = freshRoot()
    val (t, ranges) = mkTable(root)
    // horizon = third file's min: files 0 and 1 are provably all-matching
    val horizon = ranges(2).min.asInstanceOf[Long]
    val (v, res) = t.deleteWhereResult(col("k") < horizon)
    assert(v === 0L)
    assert(res.filesDropped === 2)
    assert(res.rewrittenFiles.isEmpty, "aligned delete must not rewrite")
    assert(res.passthroughFiles.size === 6)
    val got = t.read().orderBy("k").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === (horizon until 1000L).map(k => (k, k * 3)))
    // time travel: the pre-delete state is intact
    assert(t.readAsOf(-1L).count() === 1000L)
  }

  test("unaligned horizon rewrites exactly the one boundary file") {
    val root = freshRoot()
    val (t, ranges) = mkTable(root)
    val horizon = ranges(2).min.asInstanceOf[Long] + 7 // inside file 2
    val (_, res) = t.deleteWhereResult(col("k") < horizon)
    assert(res.filesDropped === 2)
    assert(res.rewrittenFiles.size === 1)
    assert(res.passthroughFiles.size === 5)
    assert(t.read().count() === 1000L - horizon)
    assert(t.read().agg(min("k")).head().getLong(0) === horizon)
  }

  test("IN-list and NOT forms classify through the zone map") {
    val root = freshRoot()
    val (t, ranges) = mkTable(root)
    // IN: two keys inside one file — only that file rewrites
    val f3min = ranges(3).min.asInstanceOf[Long]
    val (_, r1) = t.deleteWhereResult(col("k").isin(f3min, f3min + 1))
    assert(r1.filesDropped === 0)
    assert(r1.rewrittenFiles.size === 1)
    assert(r1.passthroughFiles.size === 7)
    assert(t.read().count() === 998)
    // NOT over the non-null key inverts soundly: drops the tail files
    val horizon = MutableParquetTable
      .manifestRanges(CdcMergeSink.latestSnapshot(root), "k").get
      .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)(5)
      .min.asInstanceOf[Long]
    val (_, r2) = t.deleteWhereResult(!(col("k") < horizon))
    assert(r2.filesDropped >= 2, s"NOT(k < $horizon) should drop tail files")
    assert(t.read().agg(max("k")).head().getLong(0) === horizon - 1)
  }

  test("un-zoned predicate degrades to rewrite — never misses rows, keeps null-predicate rows") {
    val root = freshRoot()
    val df = (0L until 400L)
      .map(k => (k, if (k % 7 == 0) null else s"c${k % 3}", k)).toDF("k", "c", "v")
    GraftTable.create(df, root, "k", numFiles = 4)
    val t = GraftTable(spark, root, "k")
    val (_, res) = t.deleteWhereResult(col("c") === "c1")
    // nothing provable about a non-key, non-dim column
    assert(res.filesDropped === 0 && res.passthroughFiles.isEmpty)
    assert(res.rewrittenFiles.size === 4)
    val got = t.read()
    assert(got.where(col("c") === "c1").count() === 0)
    // rows where the predicate is NULL are NOT deleted (SQL WHERE)
    assert(got.where(col("c").isNull).count() ===
      (0L until 400L).count(_ % 7 == 0))
    assert(got.count() === 400L - (0L until 400L).count(k =>
      k % 7 != 0 && k % 3 == 1))
  }

  test("dim zone maps prove keeps but never whole-file drops") {
    val root = freshRoot()
    val df = (0L until 800L).map(k => (k, k / 100, k)).toDF("k", "d", "v")
    GraftTable.create(df, root, "k", numFiles = 8)
    MutableParquetTable.attachDimRanges(spark, s"$root/base", Seq("d"))
    val t = GraftTable(spark, root, "k")
    // d = 2 lives entirely in one file (k 200..299); 7 files are proven
    // clean by the dim map, the hit file rewrites (dim stats can't see
    // nulls, so all-matching is never claimed from a dim)
    val (_, res) = t.deleteWhereResult(col("d") === 2L)
    assert(res.filesDropped === 0)
    assert(res.passthroughFiles.size === 7, "dim map should keep 7 files")
    assert(res.rewrittenFiles.size === 1)
    assert(t.read().count() === 700)
    assert(t.read().where(col("d") === 2L).count() === 0)
  }

  test("predicate covering the whole table commits an empty snapshot, schema kept") {
    val root = freshRoot()
    val (t, _) = mkTable(root)
    val (_, res) = t.deleteWhereResult(col("k") >= 0L)
    assert(res.filesDropped === 8)
    assert(t.read().count() === 0)
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "grp", "v"))
    // and the table still accepts commits afterwards
    t.commit(Seq((5L, "g1", 15L, "upsert")).toDF("k", "grp", "v", "op"))
    assert(t.read().count() === 1)
  }

  test("Reference passthrough: kept files are manifest references, zero local bytes") {
    val root = freshRoot()
    val (t, ranges) = mkTable(root, MutableParquetTable.Reference)
    val horizon = ranges(1).min.asInstanceOf[Long]
    val (_, res) = t.deleteWhereResult(col("k") < horizon)
    assert(res.filesDropped === 1)
    assert(res.filesReferenced === 7 && res.filesHardLinked === 0 &&
      res.filesCopied === 0)
    // snapshot dir holds no parquet at all (nothing rewritten)
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(res.snapshotDir))
    val local = try s.iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
    assert(local === 0)
    assert(t.read().count() === 1000L - horizon)
  }

  test("composite keys survive a zone delete: later tuple merges stay exact") {
    val root = freshRoot()
    val df = (0L until 300L).map(k => (k / 10, k % 10, k)).toDF("a", "b", "v")
    GraftTable.create(df, root, "a", numFiles = 4, moreKeys = Seq("b"))
    val t = GraftTable(spark, root, "a")
    t.deleteWhere(col("a") < 10L)
    assert(MutableParquetTable
      .manifestMoreKeys(CdcMergeSink.latestSnapshot(root)) === Seq("b"))
    // tuple-identity merge after the delete: only (20, 3) is replaced
    t.commit(Seq((20L, 3L, -1L, "upsert")).toDF("a", "b", "v", "op"))
    val got = t.read().where(col("a") === 20L && col("b") === 3L)
      .head().getLong(2)
    assert(got === -1L)
    assert(t.read().count() === 200L)
  }

  test("zone UPDATE rewrites only intersecting files; null-cond rows untouched") {
    val root = freshRoot()
    val (t, ranges) = mkTable(root)
    val horizon = ranges(2).min.asInstanceOf[Long] + 5
    val (_, res) = t.updateWhereResult(col("k") < horizon,
      "v" -> lit(-1L), "grp" -> concat(col("grp"), lit("!")))
    // files 0,1 are all-matching, file 2 boundary: all three rewrite
    // (updates have no metadata shortcut for new values); 5 keep
    assert(res.rewrittenFiles.size === 3)
    assert(res.passthroughFiles.size === 5)
    val got = t.read().orderBy("k").collect()
    got.foreach { r =>
      val k = r.getLong(0)
      if (k < horizon) {
        assert(r.getLong(2) === -1L && r.getString(1).endsWith("!"))
      } else {
        assert(r.getLong(2) === k * 3 && !r.getString(1).endsWith("!"))
      }
    }
    // assignment typing: schema unchanged after the CASE projection
    assert(t.read().schema("v").dataType.typeName === "long")
    // merge-key assignment is rejected
    val ex = intercept[IllegalArgumentException] {
      t.updateWhere(col("k") < 5L, "k" -> lit(0L))
    }
    assert(ex.getMessage.contains("merge-key"))
  }

  test("SQL UPDATE picks zone for key ranges, batch otherwise") {
    val w = Files.createTempDirectory("graft-zupd-cat").toString
    val df = (0L until 1000L).map(k => (k, s"c${k % 5}", k)).toDF("id", "c", "v")
    GraftTable.create(df, s"$w/ns/t", "id", numFiles = 8)
    spark.conf.set("spark.sql.catalog.zupd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.zupd.root", w)

    spark.sql("UPDATE zupd.ns.t SET v = v + 100000 WHERE id < 250")
    assert(graft.plans.GraftDmlRule.lastUpdateStrategy === "zone")
    assert(spark.sql(
      "SELECT count(*) FROM zupd.ns.t WHERE v >= 100000").head().getLong(0)
      === 250L)
    assert(spark.sql("SELECT sum(v) FROM zupd.ns.t").head().getLong(0) ===
      (0L until 1000L).sum + 250L * 100000L)

    spark.sql("UPDATE zupd.ns.t SET v = 0 WHERE c = 'c2'")
    assert(graft.plans.GraftDmlRule.lastUpdateStrategy === "batch")
    assert(spark.sql("SELECT count(*) FROM zupd.ns.t WHERE v = 0 AND c = 'c2'")
      .head().getLong(0) === 200L)
    spark.sql("DROP TABLE zupd.ns.t")
  }

  test("SQL DELETE picks the zone strategy for key ranges, batch for data predicates") {
    val w = Files.createTempDirectory("graft-zdel-cat").toString
    spark.conf.set("spark.sql.catalog.zdel",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.zdel.root", w)
    // multi-file layout so the zone probe has something to prove
    val df = (0L until 1000L).map(k => (k, s"c${k % 5}", k)).toDF("id", "c", "v")
    GraftTable.create(df, s"$w/ns/t", "id", numFiles = 8)
    val snap0 = CdcMergeSink.latestSnapshot(s"$w/ns/t")
    val files0 = MutableParquetTable.manifestFileNames(snap0).get.size

    spark.sql("DELETE FROM zdel.ns.t WHERE id < 500")
    assert(graft.plans.GraftDmlRule.lastDeleteStrategy === "zone")
    assert(spark.sql("SELECT count(*), min(id) FROM zdel.ns.t").head()
      .toSeq === Seq(500L, 500L))
    val snap1 = CdcMergeSink.latestSnapshot(s"$w/ns/t")
    assert(MutableParquetTable.manifestFileNames(snap1).get.size < files0,
      "zone delete must shrink the file inventory")

    spark.sql("DELETE FROM zdel.ns.t WHERE c = 'c3'")
    assert(graft.plans.GraftDmlRule.lastDeleteStrategy === "batch")
    assert(spark.sql("SELECT count(*) FROM zdel.ns.t").head().getLong(0) ===
      (500L until 1000L).count(_ % 5 != 3))
    spark.sql("DROP TABLE zdel.ns.t")
  }

  test("zone DELETE and UPDATE rewriting 8 files run one rewrite job; buckets keep their prefix") {
    Seq("ranged" -> None, "bucketed" -> Some(8)).foreach { case (label, buckets) =>
      val root = freshRoot()
      val df = (0L until 1000L)
        .map(k => (k, s"g${k % 4}", k * 3)).toDF("k", "grp", "v")
      val t = GraftTable.create(df, root, "k", numFiles = 8, buckets = buckets)
      val files0 = MutableParquetTable.manifestFileNames(s"$root/base").get
      assert(files0.size === 8, label)
      val slots = spark.sparkContext.defaultParallelism
      // a predicate on a column without zone maps: every file undecided
      val ((_, del), delJobs) = JobLog.recording(spark)(
        t.deleteWhereResult(col("v") % 7 === 0))
      val ((_, upd), updJobs) = JobLog.recording(spark)(
        t.updateWhereResult(col("v") % 5 === 0, "grp" -> lit("upd")))
      Seq("DELETE" -> (del, delJobs), "UPDATE" -> (upd, updJobs)).foreach {
        case (what, (res, jobs)) =>
          assert(res.rewrittenFiles.size === 8, s"$label $what")
          assert(jobs.size === 1 && jobs.head.calledFrom("CowRewrite"),
            s"$label $what ran ${jobs.size} jobs: ${jobs.map(_.names)}")
          assert(jobs.head.tasks.last <= slots, s"$label $what: ${jobs.head.tasks}")
      }
      val got = t.read()
      assert(got.count() === (0L until 1000L).count(k => k * 3 % 7 != 0), label)
      assert(got.where(col("grp") === "upd").count() ===
        (0L until 1000L).count(k => k * 3 % 7 != 0 && k * 3 % 5 == 0), label)
      if (buckets.isDefined) {
        val prefixes = MutableParquetTable.manifestFileNames(
          CdcMergeSink.latestSnapshot(root)).get.map(_.split('/').last.take(7))
        assert(prefixes.sorted === files0.map(_.split('/').last.take(7)).sorted,
          "every rewritten file keeps its bucket's b<id>- prefix")
        assert(prefixes.forall(_.matches("b\\d{5}-")), s"$prefixes")
      }
    }
  }
}
