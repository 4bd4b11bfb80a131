package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.CdcMergeSink

/** Multi-writer optimistic concurrency on the version chain
  * ([[OptimisticCommit]]): concurrent commits all land, versions stay
  * contiguous and linearized, conflicts are detected and retried (never
  * lost), and crashed staging debris is invisible and reclaimable. */
class ConcurrentCommitSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-occ").toString

  private def mkTable(root: String, n: Long = 200, files: Int = 4): GraftTable =
    GraftTable.create(
      spark.range(0, n).select(col("id").as("k"), (col("id") * 2).as("v")),
      root, "k", numFiles = files)

  test("concurrent committers all land: contiguous versions, no lost updates") {
    val root = freshRoot()
    val t = mkTable(root)
    import spark.implicits._
    // four writers, disjoint key sets spread across the same files —
    // every pair of commits conflicts at publish time if interleaved
    val batches = (0 until 4).map { w =>
      Seq.tabulate(10)(i => (w + 4L * i, -(w + 4L * i), "upsert"))
        .toDF("k", "v", "op")
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val landed = Await.result(
      Future.sequence(batches.map(b => Future { t.commit(b) })), Duration.Inf)
    assert(landed.sorted === Seq(0L, 1L, 2L, 3L))
    assert(t.versions === Seq(0L, 1L, 2L, 3L))
    val got = t.read().orderBy("k").collect()
    assert(got.length === 200)
    // all 40 upserts survived — no commit clobbered another
    got.foreach { r =>
      val k = r.getLong(0)
      val expected = if (k < 40) -k else 2 * k
      assert(r.getLong(1) === expected, s"key $k")
    }
    // no staging debris after clean publishes
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(root))
    val tx = try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(".tx-")).toList
    finally s.close()
    assert(tx.isEmpty, s"leftover staging dirs: $tx")
  }

  test("commit stamps stay monotone under clock skew (first-attempt clamp)") {
    val root = freshRoot()
    val t = mkTable(root)
    import spark.implicits._
    t.commit(Seq((1L, -1L, "upsert")).toDF("k", "v", "op")) // v0
    // simulate a writer whose clock ran AHEAD: doctor v0's stamp an hour
    // into the future. The next committer's clock (ours) is now "behind";
    // without the publish-time clamp it would land v1 with an OLDER stamp
    // on its FIRST attempt (no lost race, so restampCommittedAt never runs)
    val m0 = Paths.get(root, "v0",
      graft.sources.MutableParquetTable.ManifestName)
    val skewed = System.currentTimeMillis() + 3600L * 1000
    Files.writeString(m0, Files.readString(m0).replaceFirst(
      "\"committedAtMs\":\\d+", s""""committedAtMs":$skewed"""))
    t.commit(Seq((2L, -2L, "upsert")).toDF("k", "v", "op"))       // v1: merge
    t.deleteWhere(col("k") === 199L)                              // v2: delete
    t.addCheck("v_ok", "v IS NOT NULL")                           // v3: checks
    OptimisticCommit.commitSchema(root,
      graft.sources.MutableParquetTable.manifestSchema(s"$root/v3").get
        .add("w", org.apache.spark.sql.types.LongType))           // v4: schema
    t.restoreTo(1L)                                               // v5: restore
    val stamps = t.versions.map(v =>
      graft.sources.MutableParquetTable.committedAtMs(s"$root/v$v").get)
    assert(stamps === stamps.sorted,
      s"committedAtMs must be monotone along the chain, got $stamps")
    assert(stamps.head === skewed)
    // the binary search that retention vacuum / timestamp travel rely on
    // resolves correctly against the clamped chain
    assert(graft.sources.GraftChangeFeed.versionAtOrAfter(root, skewed)
      === Some(0L))
    // every later commit clamped to exactly the skewed stamp (clock still
    // behind it), so nothing is "at or after" one tick past it
    assert(graft.sources.GraftChangeFeed.versionAtOrAfter(root, skewed + 1)
      === None)
  }

  test("publish conflict is detected and retried with the competitor applied first") {
    val root = freshRoot()
    mkTable(root)
    import spark.implicits._
    val mine = Seq((7L, 777L, "upsert")).toDF("k", "v", "op")
    val theirs = Seq((7L, 111L, "upsert"), (8L, 888L, "upsert")).toDF("k", "v", "op")
    // deterministic interleave: a competitor commits AFTER we staged our
    // merge but BEFORE we publish — our first publish must lose
    var fired = false
    val r = OptimisticCommit.commit(spark, root, "k", mine,
      testHookAfterStage = () => {
        if (!fired) { fired = true
          assert(OptimisticCommit.commit(spark, root, "k", theirs).version === 0L)
        }
      })
    assert(r.version === 1L, "loser must land AFTER the competitor")
    assert(r.attempts === 2, "exactly one publish race lost, one retry")
    val got = GraftTable(spark, root, "k").read()
      .where(col("k").isin(7L, 8L)).orderBy("k").collect()
    // linearized: theirs (v0) then mine (v1) — mine wins key 7, theirs' 8 stays
    assert(got.map(x => (x.getLong(0), x.getLong(1))).toSeq ===
      Seq((7L, 777L), (8L, 888L)))
  }

  test("disjoint-file conflict rebases metadata-only — no second merge job") {
    val root = freshRoot()
    mkTable(root) // 4 files: [0,49] [50,99] [100,149] [150,199]
    import spark.implicits._
    val mine = Seq.tabulate(10)(i => (i.toLong, -i.toLong, "upsert"))
      .toDF("k", "v", "op") // dirties file 0 only
    val theirs = Seq.tabulate(10)(i => (190L + i, -(190L + i), "upsert"))
      .toDF("k", "v", "op") // dirties file 3 only
    var fired = false
    val r = OptimisticCommit.commit(spark, root, "k", mine,
      testHookAfterStage = () => {
        if (!fired) { fired = true
          OptimisticCommit.commit(spark, root, "k", theirs)
        }
      })
    assert(r.version === 1L && r.attempts === 2)
    assert(r.rebases === 1, "disjoint files must resolve by manifest rebase")
    val got = GraftTable(spark, root, "k").read().orderBy("k").collect()
    assert(got.length === 200)
    got.foreach { x =>
      val k = x.getLong(0)
      val expected = if (k < 10 || k >= 190) -k else 2 * k
      assert(x.getLong(1) === expected, s"key $k")
    }
  }

  test("same-file conflict falls back to a re-merge, linearized") {
    val root = freshRoot()
    mkTable(root)
    import spark.implicits._
    val mine = Seq.tabulate(10)(i => (i.toLong, 1000L + i, "upsert"))
      .toDF("k", "v", "op") // file 0
    val theirs = Seq.tabulate(10)(i => (40L + i, 2000L + i, "upsert"))
      .toDF("k", "v", "op") // also file 0 — rewrites it, my dirty name dies
    var fired = false
    val r = OptimisticCommit.commit(spark, root, "k", mine,
      testHookAfterStage = () => {
        if (!fired) { fired = true
          OptimisticCommit.commit(spark, root, "k", theirs)
        }
      })
    assert(r.version === 1L && r.attempts === 2)
    assert(r.rebases === 0, "a shared dirty file cannot rebase")
    val got = GraftTable(spark, root, "k")
      .read().where(col("k") < 50).orderBy("k").collect()
    got.foreach { x =>
      val k = x.getLong(0)
      val expected =
        if (k < 10) 1000L + k else if (k >= 40) 2000L + (k - 40) else 2 * k
      assert(x.getLong(1) === expected, s"key $k")
    }
  }

  test("reference-mode rebase is pure manifest surgery") {
    val root = freshRoot()
    mkTable(root)
    import spark.implicits._
    val ref = graft.sources.MutableParquetTable.Reference
    val mine = Seq((5L, -5L, "upsert")).toDF("k", "v", "op")
    val theirs = Seq((195L, -195L, "upsert")).toDF("k", "v", "op")
    var fired = false
    val r = OptimisticCommit.commit(spark, root, "k", mine,
      passthrough = ref,
      testHookAfterStage = () => {
        if (!fired) { fired = true
          OptimisticCommit.commit(spark, root, "k", theirs, passthrough = ref)
        }
      })
    assert(r.version === 1L && r.rebases === 1)
    val m = graft.sources.Manifest.read(s"$root/v1").get
    assert(m.fileNames.exists(_.startsWith("../v0/")),
      "kept files must be references into v0")
    val t = GraftTable(spark, root, "k", passthrough = ref)
    val got = t.read().where(col("k").isin(5L, 195L)).orderBy("k").collect()
    assert(got.map(x => (x.getLong(0), x.getLong(1))).toSeq ===
      Seq((5L, -5L), (195L, -195L)))
    // rebase must survive vacuum's reference counting: v0's files are
    // shared by v1, so dropping v0 keeps the still-referenced bytes
    CdcMergeSink.vacuum(root, keepLast = 1)
    assert(t.read().count() === 200)
  }

  test("empty batch commits nothing and returns the current latest") {
    val root = freshRoot()
    val t = mkTable(root, n = 20, files = 2)
    import spark.implicits._
    t.commit(Seq((3L, 33L, "upsert")).toDF("k", "v", "op"))
    val r = OptimisticCommit.commit(spark, root, "k",
      Seq.empty[(Long, Long, String)].toDF("k", "v", "op"))
    assert(r.version === 0L && r.attempts === 0 && r.merge.isEmpty)
    assert(t.versions === Seq(0L))
  }

  test("an uncommitted foreign dir on the next slot fails loudly, not silently") {
    val root = freshRoot()
    mkTable(root, n = 20, files = 2)
    // a crashed direct applyBatch target: exists, non-empty, no manifest
    Files.createDirectories(Paths.get(s"$root/v0"))
    Files.writeString(Paths.get(s"$root/v0/junk.parquet"), "not parquet")
    import spark.implicits._
    val e = intercept[OptimisticCommit.BlockedSlotException] {
      OptimisticCommit.commit(spark, root, "k",
        Seq((1L, 11L, "upsert")).toDF("k", "v", "op"))
    }
    assert(e.getMessage.contains("v0"))
  }

  private def txDirs(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".tx-")).toList
    finally s.close()
  }

  /** Every file under `dir` with its bytes, relative names sorted. */
  private def contents(dir: java.nio.file.Path): Seq[(String, Seq[Byte])] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .sortBy(_._1)
    finally s.close()
  }

  test("every slot claim refuses an uncommitted next slot and leaves no staging dir") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-occ-wh").toString
    spark.conf.set("spark.sql.catalog.gocc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gocc.root", wh)
    // k, v, w over 40 rows in 2 files, plus one commit (v0) so a restore
    // has a version to go back to
    def plain(root: String): GraftTable = {
      val t = GraftTable.create(spark.range(0, 40).select(col("id").as("k"),
        (col("id") * 2).as("v"), col("id").as("w")), root, "k", numFiles = 2)
      t.commit(Seq((1L, 11L, 1L, "upsert")).toDF("k", "v", "w", "op"))
      t
    }
    def signatureIndex(root: String): GraftTable = {
      graft.operators.Dedup.dedupIncremental(root,
        Seq((0L, "the quick brown fox jumps over the lazy dog"),
          (1L, "columnar storage formats with vectorized execution"))
          .toDF("doc_id", "text"), "text", "doc_id", bands = 16,
        rowsPerBand = 2)
      GraftTable(spark, root, "idx_key")
    }
    val claims: Seq[(String, String => GraftTable, GraftTable => Any)] = Seq(
      ("commit", plain, _.commit(Seq((2L, 22L, 2L, "upsert"))
        .toDF("k", "v", "w", "op"))),
      ("replace", plain, _.replace(spark.range(0, 5)
        .select(col("id").as("k"), col("id").as("v"), col("id").as("w")))),
      ("restoreTo", plain, _.restoreTo(-1L)),
      ("deleteWhere", plain, _.deleteWhere(col("k") < 5)),
      ("updateWhere", plain, _.updateWhere(col("k") < 5, "v" -> lit(0L))),
      ("deleteKeys", plain, _.deleteKeys(Seq(3L).toDF("k"))),
      ("addColumn", plain, t => OptimisticCommit.commitSchema(t.root,
        t.read().schema.add("x", org.apache.spark.sql.types.LongType))),
      ("addCheck", plain, _.addCheck("v_ok", "v IS NOT NULL")),
      ("setColumnDefault", plain, _.setColumnDefault("v", "0")),
      ("compact (splice)", plain, _.compact(1L << 20)),
      ("compact (purge)", r => { val t = plain(r); t.dropColumn("w"); t },
        _.compact(1L << 20)),
      ("compactRange", plain, _.compactRange(0L, 10L, 1L << 20)),
      ("rebucket", plain, _.rebucket(Some(2))),
      ("zorder", plain, t => spark.sql("CALL gocc.system.zorder(table => " +
        s"'ns.${Paths.get(t.root).getFileName}', dims => 'v,w')").collect()),
      ("rebuildIndexLayout", signatureIndex, t =>
        graft.operators.Dedup.rebuildIndexLayout(spark, t.root,
          probeLayout = true)))
    claims.zipWithIndex.foreach { case ((label, mk, claim), i) =>
      val t = mk(s"$wh/ns/t$i")
      val before = t.versions
      // a crashed direct writer's target: exists, non-empty, no manifest
      val slot = Paths.get(t.root, s"v${before.lastOption.getOrElse(-1L) + 1}")
      Files.createDirectories(slot)
      Files.writeString(slot.resolve("junk.parquet"), "not parquet")
      val planted = contents(slot)
      val e = intercept[Throwable](claim(t))
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[OptimisticCommit.BlockedSlotException]),
        s"$label: expected BlockedSlotException, got $e")
      assert(contents(slot) === planted, s"$label wrote into the planted slot")
      assert(txDirs(t.root).isEmpty, s"$label left a staging dir")
      assert(t.versions === before, label)
    }
  }

  test("a CHECK-violating updateWhere leaves no staging dir behind") {
    val root = freshRoot()
    val t = mkTable(root)
    t.addCheck("v_pos", "v >= 0")
    intercept[graft.sources.GraftChecks.CheckViolation] {
      t.updateWhere(col("k") < 10, "v" -> lit(-1L))
    }
    assert(txDirs(root).isEmpty)
    assert(t.versions === Seq(0L))
  }

  test("a compactRange whose fold throws leaves the next slot free") {
    val root = freshRoot()
    val t = mkTable(root) // 4 files: [0,49] [50,99] [100,149] [150,199]
    // truncate the one file the range selects: the splice fails reading
    // its footer, after the other files have passed through
    val picked = graft.sources.MutableParquetTable
      .pruneManifestFiles(s"$root/base", Some(0L), Some(10L)).get._2
    assert(picked.size === 1)
    java.nio.channels.FileChannel.open(Paths.get(picked.head),
      java.nio.file.StandardOpenOption.WRITE).truncate(16).close()
    intercept[Exception](t.compactRange(0L, 10L, 1L << 20))
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(root))
    val versionDirs = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("v\\d+")).toList finally s.close()
    assert(versionDirs.isEmpty, s"uncommitted version dirs: $versionDirs")
    assert(txDirs(root).isEmpty)
    // the next commit routes to an intact file and lands
    import spark.implicits._
    assert(t.commit(Seq((195L, -195L, "upsert")).toDF("k", "v", "op")) === 0L)
    assert(t.readRange(190L, 199L).where(col("k") === 195L)
      .head().getLong(1) === -195L)
  }

  test("a zombie twin of the same (app, epoch) cannot apply an epoch twice") {
    val root = freshRoot()
    mkTable(root, n = 20, files = 2)
    import spark.implicits._
    val epoch = Seq((3L, 333L, "upsert")).toDF("k", "v", "op")
    // failover zombie: BOTH drivers of one streaming query offer the same
    // (app, epoch) — the pre-commit lastTxnEpoch check passes for both
    // (check-then-act), so the loser must detect the winner's marker on
    // its publish retry and abort as already-committed
    var fired = false
    val r = OptimisticCommit.commit(spark, root, "k", epoch,
      txnMarker = Some(("appX", 5L)),
      testHookAfterStage = () => {
        if (!fired) { fired = true
          OptimisticCommit.commit(spark, root, "k", epoch,
            txnMarker = Some(("appX", 5L)))
        }
      })
    // the loser reports the winner's version, commits NOTHING of its own
    assert(r.version === 0L && r.merge.isEmpty)
    val t = GraftTable(spark, root, "k")
    assert(t.versions === Seq(0L), "the epoch must land exactly once")
    assert(CdcMergeSink.lastTxnEpoch(root, "appX") === Some(5L))
    assert(t.read().where(col("k") === 3L).head().getLong(1) === 333L)
  }

  test("vacuum carries txn markers forward — retention cannot cause an epoch replay") {
    val root = freshRoot()
    val t = mkTable(root, n = 20, files = 2)
    import spark.implicits._
    // a streaming sink commits epoch 7, then goes idle while other
    // writers push the marker version below the retention horizon
    OptimisticCommit.commit(spark, root, "k",
      Seq((1L, 11L, "upsert")).toDF("k", "v", "op"),
      txnMarker = Some(("sinkA", 7L)))
    (0 until 3).foreach(i =>
      t.commit(Seq((10L + i, 0L, "upsert")).toDF("k", "v", "op")))
    assert(CdcMergeSink.vacuum(root, keepLast = 2) === Seq(0L, 1L))
    // the marker's manifest is gone, but the sidecar retains its epoch —
    // a restarted query replaying epoch 7 must still skip
    assert(CdcMergeSink.lastTxnEpoch(root, "sinkA") === Some(7L))
    // newer in-manifest markers win over the sidecar (max of both views)
    OptimisticCommit.commit(spark, root, "k",
      Seq((2L, 22L, "upsert")).toDF("k", "v", "op"),
      txnMarker = Some(("sinkA", 9L)))
    assert(CdcMergeSink.lastTxnEpoch(root, "sinkA") === Some(9L))
    // and a second vacuum folds the newer dropped marker into the sidecar
    (0 until 3).foreach(i =>
      t.commit(Seq((15L + i, 0L, "upsert")).toDF("k", "v", "op")))
    CdcMergeSink.vacuum(root, keepLast = 1)
    assert(CdcMergeSink.lastTxnEpoch(root, "sinkA") === Some(9L))
  }

  test("vacuum sweeps abandoned staging dirs after the retention window") {
    val root = freshRoot()
    val t = mkTable(root, n = 20, files = 2)
    import spark.implicits._
    t.commit(Seq((3L, 33L, "upsert")).toDF("k", "v", "op"))
    val stale = Paths.get(s"$root/.tx-deadbeef")
    val fresh = Paths.get(s"$root/.tx-cafebabe")
    // a crashed V2 sink's epoch staging ages out the same way
    val staleSink = Paths.get(s"$root/.staging-stream-dead/epoch-3")
    Files.createDirectories(stale); Files.createDirectories(fresh)
    Files.createDirectories(staleSink)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    Files.setLastModifiedTime(stale, old)
    Files.setLastModifiedTime(staleSink.getParent, old)
    CdcMergeSink.vacuum(root, keepLast = 1)
    assert(!Files.exists(stale), "stale .tx dir must be reclaimed")
    assert(!Files.exists(staleSink.getParent),
      "stale .staging- dir must be reclaimed")
    assert(Files.exists(fresh), "a live writer's staging dir must survive")
    Files.delete(fresh)
  }

  private def stageSorted(root: String, staging: String,
                          rows: Long): (Seq[String], org.apache.spark.sql.types.StructType) = {
    val df = spark.range(0, rows).select(col("id").as("k"), col("id").as("v"))
    graft.sources.ParquetTable.writeSortedBy(df, staging, Seq("k"), 2)
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(staging))
    val staged = try s.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toList.sorted
    finally s.close()
    (staged, df.schema)
  }

  test("direct publish sweeps crashed-task orphans from the staging dir") {
    val root = freshRoot()
    mkTable(root)
    val staging = s"$root/.staging-orphan-test"
    val (staged, schema) = stageSorted(root, staging, 100)
    assert(staged.size === 2)
    // a crashed attempt's partial file: present on disk, named by NO
    // writer commit message (its abort() never ran)
    val orphan = Paths.get(staging, "part-9-99999.parquet")
    Files.copy(Paths.get(staged.head), orphan)
    assert(OptimisticCommit.replaceStagedDirect(
      spark, root, "k", Nil, staging, staged, schema))
    val dir = CdcMergeSink.latestSnapshot(root)
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    val names = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    finally s.close()
    assert(names.size === 2 && !names.contains("part-9-99999.parquet"),
      "orphan bytes must not ship into the published snapshot")
    // the direct spark.read.parquet(dir) convenience sees no duplicates
    assert(spark.read.parquet(dir).count() === 100)
    assert(spark.read.format("graft").load(dir).count() === 100)
  }

  test("replace enforces and carries a constraint that races in during staging") {
    val root = freshRoot()
    val t = mkTable(root) // k, v = 2k over 200 rows
    val good = spark.range(0, 50).select(col("id").as("k"),
      (col("id") + 1).as("v"))
    OptimisticCommit.replace(spark, root, "k", good,
      testHookAfterStage = () => { t.addCheck("v_pos", "v >= 0"); () })
    assert(graft.sources.GraftChecks.manifestChecks(
        CdcMergeSink.latestSnapshot(root)) === Map("v_pos" -> "v >= 0"),
      "a constraint added while the replace staged must survive its commit")
    assert(t.read().count() === 50)

    // staged content violating the RACED-IN contract must fail the
    // replace, not erase the constraint: v = 500 passes v_pos but
    // violates the concurrently-added cap
    val bad = spark.range(0, 10).select(col("id").as("k"), lit(500L).as("v"))
    intercept[graft.sources.GraftChecks.CheckViolation] {
      OptimisticCommit.replace(spark, root, "k", bad,
        testHookAfterStage = () => { t.addCheck("v_cap", "v < 100"); () })
    }
    val latest = CdcMergeSink.latestSnapshot(root)
    assert(graft.sources.GraftChecks.manifestChecks(latest).keySet ===
      Set("v_pos", "v_cap"))
    assert(t.read().count() === 50, "the failed replace must not land")
  }

  test("direct publish re-validates against a constraint that races in") {
    val root = freshRoot()
    val t = mkTable(root)
    val staging = s"$root/.staging-resync-test"
    val (staged, schema) = stageSorted(root, staging, 80)
    assert(OptimisticCommit.replaceStagedDirect(
      spark, root, "k", Nil, staging, staged, schema,
      testHookAfterStage = () => { t.addCheck("v_pos", "v >= 0"); () }))
    val latest = CdcMergeSink.latestSnapshot(root)
    assert(graft.sources.GraftChecks.manifestChecks(latest) ===
      Map("v_pos" -> "v >= 0"),
      "the direct publish must carry the raced-in contract")
    assert(spark.read.format("graft").load(latest).count() === 80)
  }
}
