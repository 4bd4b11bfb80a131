package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftSource, MutableParquetTable, ParquetTable}

class GraftSourceSpec extends SparkSpec {

  import spark.implicits._

  /** A 3-version table: base → v0 (upserts) → v1 (deletes). */
  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft-src").toString
    val base = (0L until 4000L).map(i => (i, s"name-$i", i % 7)).toDF("id", "name", "grp")
    val t = GraftTable.create(base, r, "id", numFiles = 8)
    t.commit(
      (0L until 4000L by 100).map(i => (i, s"upd-$i", 99L, "upsert"))
        .toDF("id", "name", "grp", "op"))
    t.commit(
      (1L until 4000L by 500).map(i => (i, null: String, 0L, "delete"))
        .toDF("id", "name", "grp", "op"))
    r
  }

  test("format(graft) reads the latest committed state") {
    val viaSource = spark.read.format("graft").load(root)
    val direct = GraftTable(spark, root, "id").read()
    assert(viaSource.count() === direct.count())
    assert(viaSource.orderBy("id").collect()
      === direct.orderBy("id").collect())
  }

  test("version option time-travels; pre-history resolves to base") {
    val v0 = spark.read.format("graft").option("version", 0).load(root)
    val d0 = GraftTable(spark, root, "id").readAsOf(0L)
    assert(v0.orderBy("id").collect() === d0.orderBy("id").collect())
    // version before any commit → base
    val pre = spark.read.format("graft").option("version", -5).load(root)
    assert(pre.count() === 4000)
  }

  test("SQL surface: CREATE TEMPORARY VIEW ... USING graft") {
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW gsrc USING graft OPTIONS (path '$root')")
    val n = spark.sql("SELECT count(*) AS n FROM gsrc WHERE grp = 99").head().getLong(0)
    val expect = GraftTable(spark, root, "id").read()
      .where(col("grp") === 99).count()
    assert(n === expect)
  }

  test("key-range filter prunes manifest files before any data IO") {
    val df = spark.read.format("graft").load(root)
    // full scan first: every manifest file read (a bare count would now
    // answer from the manifest and plan zero files)
    df.select("id").collect()
    val full = GraftSource.lastScanFiles.size
    assert(full >= 8, s"expected >=8 snapshot files, saw $full")

    val narrow = df.where(col("id") >= 100L && col("id") <= 140L)
    val rows = narrow.select("id", "name").collect()
    val pruned = GraftSource.lastScanFiles.size
    assert(pruned < full, s"key range should prune files: $pruned vs $full")
    // correctness unaffected by pruning (deletes at 1,501,...; upsert at 100)
    assert(rows.length === 41 - (if ((101L until 141L).exists(i => (i - 1) % 500 == 0)) 1 else 0))
    assert(rows.map(_.getLong(0)).min >= 100L)

    // point lookup prunes to a single file
    df.where(col("id") === 2000L).collect()
    assert(GraftSource.lastScanFiles.size === 1,
      s"point lookup should touch one file: ${GraftSource.lastScanFiles}")
  }

  test("a scattered static IN prunes by point set, not by its [min,max] envelope") {
    val df = spark.read.format("graft").load(root)
    df.select("id").collect()
    val full = GraftSource.lastScanFiles.size
    // two keys at opposite ends of the keyspace: the envelope [lo, hi]
    // spans every file; the point-set prune keeps only their holders
    val ends = df.where(col("id").isin(100L, 2000L)).select("id").collect()
    val pruned = GraftSource.lastScanFiles.size
    assert(pruned <= 2 && pruned < full,
      s"scattered IN must prune by points: $pruned vs $full files")
    assert(ends.map(_.getLong(0)).sorted.toSeq === Seq(100L, 2000L))
  }

  test("filters are re-applied above the scan: pruning can never widen results") {
    val df = spark.read.format("graft").load(root)
    val got = df.where(col("id") === 100L).select("name").head().getString(0)
    assert(got === "upd-100") // the v0 upsert, via the latest snapshot
    assert(df.where(col("id") === 1L).count() === 0) // deleted in v1
  }

  test("non-key and disjunctive filters fall back to a full manifest scan, correctly") {
    val df = spark.read.format("graft").load(root)
    val viaSource = df.where(col("grp") === 99 || col("id") < 10L).count()
    val direct = GraftTable(spark, root, "id").read()
      .where(col("grp") === 99 || col("id") < 10L).count()
    assert(viaSource === direct)
  }

  test("bare committed snapshot dirs load directly; stray files stay invisible") {
    val work = java.nio.file.Files.createTempDirectory("graft-src2").toString
    val df = (0L until 1000L).map(i => (i, i * 2)).toDF("k", "v")
    ParquetTable.writeSorted(df, s"$work/t", "k", 4)
    val t = MutableParquetTable(spark, s"$work/t", "k")
    val res = t.merge(Seq((5L, 0L, "delete")).toDF("k", "v", "op"),
      snapshotDir = Some(s"$work/snap"))
    // drop a stray uncommitted part file beside the snapshot
    val stray = java.nio.file.Paths.get(s"$work/snap/part-stray.parquet")
    df.limit(10).coalesce(1).write.parquet(s"$work/straysrc")
    val srcFile = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/straysrc"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(srcFile, stray)

    val viaSource = spark.read.format("graft").load(res.snapshotDir)
    assert(viaSource.count() === 999) // stray file not double-counted
  }

  test("V2 scan: columnar parquet BatchScan, no row-boundary RDD scan") {
    val df = spark.read.format("graft").load(root)
      .where(col("id") >= 100L && col("id") <= 140L)
      .select("id", "name")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected a V2 BatchScan:\n$plan")
    assert(!plan.contains("ExistingRDD"),
      s"V1 row-boundary scan still present:\n$plan")
    // the delegate is Spark's own parquet scan: vectorized batches flow
    // into codegen through ColumnarToRow
    assert(plan.contains("ColumnarToRow"), s"scan is not columnar:\n$plan")
    // pushed filters reach the parquet row-group level
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(id,100)"),
      s"filters not pushed to the parquet scan:\n$plan")
  }

  test("relation setup reads the schema from the manifest, not footers") {
    val snapshot = graft.streaming.CdcMergeSink.latestSnapshot(root)
    val fromManifest = MutableParquetTable.manifestSchema(snapshot)
    assert(fromManifest.isDefined, "committed manifest should embed the schema")
    assert(fromManifest.get === spark.read.format("graft").load(root).schema)
  }

  test("unfiltered COUNT(*) answers from the manifest with zero data IO") {
    val df = spark.read.format("graft").load(root)
    val expected = df.collect().length  // full read; plans a nonempty file list
    assert(GraftSource.lastScanFiles.nonEmpty)
    val counted = df.count()
    assert(counted === expected.toLong)
    // the count plan planned NO files — metadata only
    assert(GraftSource.lastScanFiles.isEmpty,
      s"count(*) scanned ${GraftSource.lastScanFiles.size} files")
    // plan shows the complete pushdown, not a parquet scan
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataScan"), plan.take(2000))
    // filtered counts fall back to the data path, still correct
    val filtered = df.where(col("grp") === 99).count()
    assert(GraftSource.lastScanFiles.nonEmpty)
    assert(filtered === df.collect().count(_.getLong(2) == 99).toLong)
    // and COUNT on a time-traveled snapshot answers from ITS manifest
    val v0 = spark.read.format("graft").option("version", 0).load(root)
    assert(v0.count() === 4000L)
    assert(GraftSource.lastScanFiles.isEmpty)
  }

  test("MIN/MAX of the key answer from the manifest zone map, typed") {
    val df = spark.read.format("graft").load(root)
    val r = df.agg(count(lit(1)), min(col("id")), max(col("id"))).head()
    assert(GraftSource.lastScanFiles.isEmpty, "metadata agg planned files")
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === (3992L, 0L, 3999L))
    val plan = df.agg(min(col("id"))).queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataScan"), plan.take(2000))
    // min/max of a NON-key column must take the data path
    df.agg(min(col("grp"))).collect()
    assert(GraftSource.lastScanFiles.nonEmpty)

    // date-keyed snapshot: bounds come back as real dates
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-datekey").toString
    val dates = (0 until 90).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + i)), i.toLong))
      .toDF("d", "v")
    ParquetTable.writeSorted(dates, dir, "d", 3)
    MutableParquetTable(spark, dir, "d").commitManifest(dir)
    val dd = spark.read.format("graft").load(dir)
    val dr = dd.agg(min(col("d")), max(col("d")), count(lit(1))).head()
    assert(GraftSource.lastScanFiles.isEmpty)
    assert(dr.getDate(0) === java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(19000L)))
    assert(dr.getDate(1) === java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(19089L)))
    assert(dr.getLong(2) === 90L)
  }

  test("mode(append) writes commit the batch as the next table version") {
    // private root: this test mutates the version chain
    val r = java.nio.file.Files.createTempDirectory("graft-w").toString
    val base = (0L until 1000L).map(i => (i, s"n-$i", i % 7)).toDF("id", "name", "grp")
    GraftTable.create(base, r, "id", numFiles = 4)
    val before = GraftTable(spark, r, "id").versions.size

    (Seq((5L, "updated-5", 99L)) ++ (1000L until 1010L).map(i => (i, s"new-$i", 1L)))
      .toDF("id", "name", "grp")
      .write.format("graft").mode("append").save(r)

    val t = GraftTable(spark, r, "id")
    assert(t.versions.size === before + 1, "append must commit ONE new version")
    val got = spark.read.format("graft").load(r)
    assert(got.count() === 1010L)
    assert(got.where(col("id") === 5L).head().getString(1) === "updated-5")
    assert(got.where(col("id") >= 1000L).count() === 10L)
    // time travel still sees the pre-append state
    val old = spark.read.format("graft").option("version", -1).load(r)
    assert(old.count() === 1000L)
    assert(old.where(col("id") === 5L).head().getString(1) === "n-5")

    // overwrite mode REPLACES content as the next version (the V2
    // truncate-overwrite path); history stays readable
    base.limit(1).write.format("graft").mode("overwrite").save(r)
    val t2 = GraftTable(spark, r, "id")
    assert(t2.read().count() === 1L)
    assert(t2.readAsOf(t2.versions.last - 1).count() === 1010L)
    // bare-snapshot writes fail fast
    intercept[Exception] {
      base.limit(1).write.format("graft").mode("append")
        .save(s"$r/base")
    }
  }

  test("runtime file pruning: a key join prunes fact files at execution time") {
    val df = spark.read.format("graft").load(root)
    df.select("id").collect()
    val full = GraftSource.lastScanFiles.size
    assert(full >= 8)
    // selective TABLE-BACKED dim (a local Seq's filter constant-folds
    // away and DPP sees no selective predicate): two keys in one file's
    // range — dynamic pruning hands the dim's keys to the scan at
    // EXECUTION time and the manifest zone map drops every non-matching
    // fact file
    val ddir = java.nio.file.Files.createTempDirectory("graft-dim").toString
    Seq((5L, "a"), (6L, "a"), (2000L, "zzz")).toDF("k", "tag")
      .write.mode("overwrite").parquet(ddir)
    val dim = spark.read.parquet(ddir)
    val joined = df.join(broadcast(dim.where(col("tag") === "a")),
      df("id") === dim("k"))
    val rows = joined.collect()
    assert(rows.length === 2)
    val pruned = GraftSource.lastScanFiles.size
    assert(pruned < full, s"runtime filter did not prune: $pruned vs $full")
    // correctness with pruning: values match the unpruned join
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq === Seq(5L, 6L))
  }

  test("non-key dim zone maps: static AND runtime pruning on an attached dim") {
    val s2 = spark; import s2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-dims").toString
    val fdir = s"$work/fact"
    // fact sorted by id (the merge key); region correlates with id so
    // per-file region ranges are tight — the Z-order/clustered-dim shape
    val fact = (0L until 4000L).map(i => (i, i / 500L, i * 3))
      .toDF("id", "region", "v")
    ParquetTable.writeSorted(fact, fdir, "id", 8)
    MutableParquetTable(spark, fdir, "id").commitManifest(fdir)
    MutableParquetTable.attachDimRanges(spark, fdir, Seq("region"))

    val df = spark.read.format("graft").load(fdir)
    df.select("id").collect()
    val full = GraftSource.lastScanFiles.size
    assert(full >= 8)

    // STATIC: a pushed range filter on the dim prunes before any data IO
    val got = df.where(col("region") === 2L).collect()
    assert(got.length === 500)
    val prunedStatic = GraftSource.lastScanFiles.size
    assert(prunedStatic < full, s"static dim prune: $prunedStatic vs $full")

    // STATIC scattered IN on the dim: the envelope [0, 7] would keep
    // every file — the point-set prune keeps only the two holders
    val ends = df.where(col("region").isin(0L, 7L)).collect()
    assert(ends.length === 1000)
    val prunedIn = GraftSource.lastScanFiles.size
    assert(prunedIn < full, s"static dim IN prune: $prunedIn vs $full")

    // RUNTIME: a star join on the dim column — the broadcast side's keys
    // reach the scan at execution time and prune via the dim zone map
    val ddir = java.nio.file.Files.createTempDirectory("graft-dims-d").toString
    Seq((2L, "keep"), (900L, "zzz")).toDF("r", "tag")
      .write.mode("overwrite").parquet(ddir)
    val dim = spark.read.parquet(ddir)
    val joined = df.join(broadcast(dim.where(col("tag") === "keep")),
      df("region") === dim("r"))
    val rows = joined.collect()
    assert(rows.length === 500)
    val prunedRt = GraftSource.lastScanFiles.size
    assert(prunedRt < full, s"runtime dim prune: $prunedRt vs $full")
    assert(rows.map(_.getAs[Long]("id")).min === 1000L)
    assert(rows.map(_.getAs[Long]("id")).max === 1499L)

    // dim ranges CARRY through a merge: passthrough files keep their
    // entries, the rewritten file gets fresh bounds — pruning still works
    // on the new snapshot without re-attaching
    val t = MutableParquetTable(spark, fdir, "id")
    val res = t.merge(
      Seq((10L, 0L, -30L, "upsert")).toDF("id", "region", "v", "op"))
    assert(res.passthroughFiles.nonEmpty)
    val df2 = spark.read.format("graft").load(res.snapshotDir)
    val got2 = df2.where(col("region") === 2L).collect()
    assert(got2.length === 500)
    assert(GraftSource.lastScanFiles.size < full,
      "dim pruning must survive the merge")
    assert(df2.where(col("id") === 10L).head().getLong(2) === -30L)
  }

  test("ORDER BY key LIMIT k prunes to the files holding the top-k") {
    val df = spark.read.format("graft").load(root)
    df.select("id", "name").collect() // baseline: all files planned
    val full = GraftSource.lastScanFiles.size
    assert(full >= 8)

    val expectAsc = GraftTable(spark, root, "id").read()
      .orderBy("id").limit(5).collect()
    val asc = df.orderBy("id").limit(5).collect()
    assert(GraftSource.lastScanFiles.size === 1,
      s"asc top-5 should read the low-end file: ${GraftSource.lastScanFiles}")
    assert(asc === expectAsc)

    val expectDesc = GraftTable(spark, root, "id").read()
      .orderBy(col("id").desc).limit(7).collect()
    val desc = df.orderBy(col("id").desc).limit(7).collect()
    assert(GraftSource.lastScanFiles.size === 1,
      s"desc top-7 should read the high-end file: ${GraftSource.lastScanFiles}")
    assert(desc === expectDesc)

    // tiebreaker orders after the leading key ride along free (the k-th
    // row's key bound is unchanged by them)
    val expectTie = GraftTable(spark, root, "id").read()
      .orderBy(col("id"), col("name").desc).limit(5).collect()
    val tie = df.orderBy(col("id"), col("name").desc).limit(5).collect()
    assert(GraftSource.lastScanFiles.size === 1,
      s"tiebroken top-5 should still read one file: ${GraftSource.lastScanFiles}")
    assert(tie === expectTie)

    // a NON-key leading order must not prune
    df.select("id", "name").collect()
    val full2 = GraftSource.lastScanFiles.size
    df.orderBy(col("name")).limit(5).collect()
    assert(GraftSource.lastScanFiles.size === full2,
      "non-key leading sort must scan every file")
  }

  test("bare LIMIT k prunes to a row-count prefix of the manifest") {
    val df = spark.read.format("graft").load(root)
    val rows = df.limit(3).collect()
    assert(rows.length === 3)
    assert(GraftSource.lastScanFiles.size === 1,
      s"limit 3 should plan one file: ${GraftSource.lastScanFiles}")
  }

  test("top-k pushdown declines when row counts can't bound survivors") {
    val df = spark.read.format("graft").load(root)
    df.select("id", "name").collect()
    val full = GraftSource.lastScanFiles.size

    // a pushed data filter makes per-file counts an overcount — decline
    val got = df.where(col("grp") === 99).orderBy("id").limit(5).collect()
    assert(GraftSource.lastScanFiles.size === full,
      "filtered top-k must scan every candidate file")
    val expect = GraftTable(spark, root, "id").read()
      .where(col("grp") === 99).orderBy("id").limit(5).collect()
    assert(got === expect)

    // deletion tombstones: physical counts exceed logical rows — decline
    val r2 = java.nio.file.Files.createTempDirectory("graft-topk-tomb").toString
    val t2 = GraftTable.create(
      (0L until 400L).map(i => (i, i * 2)).toDF("k", "v"), r2, "k", numFiles = 4)
    t2.deleteKeys((0L until 10L).toDF("k")) // the asc top-k's own keys
    val tdf = spark.read.format("graft").load(r2)
    val topAfterDelete = tdf.orderBy("k").limit(5).collect()
    assert(topAfterDelete.map(_.getLong(0)).toSeq === (10L until 15L).toSeq,
      "tombstoned keys must not resurface in the top-k")

    // an ACTUAL null key (out of merge contract but writable): invisible
    // to min/max bounds, recorded in the manifest's nullKeys — decline
    val r3 = java.nio.file.Files.createTempDirectory("graft-topk-null").toString
    val n = ((0L until 100L).map(i => (java.lang.Long.valueOf(i), s"s$i"))
      :+ ((null: java.lang.Long), "null-key")).toDF("k", "s")
    GraftTable.create(n, r3, "k", numFiles = 4)
    val ndf = spark.read.format("graft").load(r3)
    ndf.select("k").collect()
    val nfull = GraftSource.lastScanFiles.size
    val nullsFirst = ndf.orderBy("k").limit(3).collect()
    assert(GraftSource.lastScanFiles.size === nfull,
      "null-key-bearing top-k must not prune")
    assert(nullsFirst.head.isNullAt(0), "NULLS FIRST must surface the null")
  }

  test("top-k on an OVERLAPPED layout keeps every range-crossing file") {
    // two overlap clusters: low files span [0,2000), high files
    // [2000,4000) — an asc top-10 must keep BOTH low files (their ranges
    // cross the 10th key's bound) and may drop both high files
    val r = java.nio.file.Files.createTempDirectory("graft-topk-ovl").toString
    val df = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
    for (lo <- Seq(true, false); i <- 0 until 2) {
      val cluster = if (lo) df.where(col("k") < 2000) else df.where(col("k") >= 2000)
      cluster.where(pmod(col("k"), lit(2)) === i)
        .coalesce(1).sortWithinPartitions("k")
        .write.mode("append").parquet(s"$r/base")
    }
    MutableParquetTable(spark, s"$r/base", "k").commitManifest(s"$r/base")
    val g = spark.read.format("graft").load(r)
    val got = g.orderBy("k").limit(10).collect()
    assert(got.map(_.getLong(0)).toSeq === (0L until 10L).toSeq)
    assert(GraftSource.lastScanFiles.size === 2,
      s"both low-cluster files (and only them): ${GraftSource.lastScanFiles}")
    val gotDesc = g.orderBy(col("k").desc).limit(10).collect()
    assert(gotDesc.map(_.getLong(0)).toSeq === (3999L to 3990L by -1).toSeq)
    assert(GraftSource.lastScanFiles.size === 2,
      s"both high-cluster files (and only them): ${GraftSource.lastScanFiles}")
  }

  test("version option on a non-root path fails fast") {
    val work = java.nio.file.Files.createTempDirectory("graft-src3").toString
    val df = (0L until 10L).map(i => (i, i)).toDF("k", "v")
    ParquetTable.writeSorted(df, s"$work/t", "k", 1)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("version", 1).load(s"$work/t").collect()
    }
  }

  test("scan reports manifest statistics: real size + rows, and joins auto-broadcast") {
    val df = spark.read.format("graft").load(root)
    val stats = df.queryExecution.optimizedPlan.stats
    // without SupportsReportStatistics this is defaultSizeInBytes (~8 EB)
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 64L * 1024 * 1024,
      s"expected physical-ish size, got ${stats.sizeInBytes}")
    assert(stats.rowCount.exists(_.toLong === df.count()),
      s"expected manifest row count, got ${stats.rowCount}")

    // a small graft table under the broadcast threshold must become the
    // BUILD side of a plain equi-join with no broadcast hint
    val facts = spark.range(0, 200000)
      .select(pmod(col("id"), lit(4000L)).as("id"), col("id").as("v"))
    val joined = facts.join(df, "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"graft side should auto-broadcast from its reported stats:\n$plan")
    assert(joined.count() > 0)

    // a filtered scan must not claim the unfiltered row count
    val filtered = spark.read.format("graft").load(root).where(col("grp") === 99)
    assert(filtered.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.stats.rowCount.isEmpty),
      "pushed-filter scans report no row count")
  }

  test("dim-column bounds reach the optimizer: range selectivity from the zone map") {
    val s2 = spark; import s2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-dimstats").toString
    val fdir = s"$work/fact"
    val fact = (0L until 4000L).map(i => (i, i / 500L, i * 3))
      .toDF("id", "region", "v")
    ParquetTable.writeSorted(fact, fdir, "id", 8)
    MutableParquetTable(spark, fdir, "id").commitManifest(fdir)
    MutableParquetTable.attachDimRanges(spark, fdir, Seq("region"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.read.format("graft").load(fdir)
      val attrStats = df.queryExecution.optimizedPlan.stats.attributeStats
      val dimStat = attrStats.find(_._1.name == "region").map(_._2)
        .getOrElse(fail(s"no column stats for the attached dim: $attrStats"))
      // bounds from the manifest dim entries; distinct/null honestly absent
      assert(dimStat.min.contains(0L), s"dim min: ${dimStat.min}")
      assert(dimStat.max.contains(7L), s"dim max: ${dimStat.max}")
      assert(dimStat.distinctCount.isEmpty && dimStat.nullCount.isEmpty,
        "dims carry bounds only — counts must decline, not guess")
      // the key stats still report alongside
      assert(attrStats.exists(_._1.name == "id"))

      // an un-attached column reports no stats
      assert(!attrStats.exists(_._1.name == "v"))

      // a range filter on the dim TIGHTENS the size estimate through
      // zone-map file pruning (every pushed filter is re-applied above
      // the scan, so row counts decline honestly — bytes carry the
      // tightening), and the tightened estimate flips the join to a
      // broadcast: threshold between the full and pruned sizes
      val fullSize = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val pruned = df.where(col("region") === 2L)
      val prunedSize = pruned.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(prunedSize < fullSize,
        s"dim prune must shrink the estimate: $prunedSize vs $fullSize")
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((prunedSize + fullSize) / 2).toString)
      try {
        val facts = spark.range(0, 50000)
          .select(pmod(col("id"), lit(8L)).as("region"),
            col("id").as("fv"))
        val bj = facts.join(pruned.select(col("region"), col("v")), "region")
        assert(bj.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "dim-pruned side must broadcast from the tightened estimate:\n" +
            bj.queryExecution.executedPlan)
        val nb = facts.join(df.select(col("region"), col("v")), "region")
        assert(!nb.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
          "the unpruned side must NOT broadcast at the same threshold")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("key-column statistics reach the optimizer: exact NDV/nulls/bounds") {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.read.format("graft").load(root)
      val attrStats = df.queryExecution.optimizedPlan.stats.attributeStats
      val keyStat = attrStats.find(_._1.name == "id").map(_._2)
        .getOrElse(fail(s"no column stats for the key: $attrStats"))
      val expectRows = GraftTable(spark, root, "id").read().count()
      assert(keyStat.distinctCount.exists(_.toLong === expectRows),
        s"key NDV must be exact (identity column): ${keyStat.distinctCount}")
      assert(keyStat.nullCount.contains(BigInt(0)))
      assert(keyStat.min.contains(0L) || keyStat.min.contains(2L),
        s"min from the zone map: ${keyStat.min}") // id=1 deleted in v1
      assert(keyStat.max.exists(_.asInstanceOf[Long] >= 3900L),
        s"max from the zone map: ${keyStat.max}")

      // a tombstoned table must NOT report column stats (physical ≠ logical)
      val r2 = java.nio.file.Files.createTempDirectory("graft-cbo-tomb").toString
      val t2 = GraftTable.create(
        (0L until 100L).map(i => (i, i)).toDF("k", "v"), r2, "k", numFiles = 2)
      t2.deleteKeys(Seq(5L).toDF("k"))
      val tdf = spark.read.format("graft").load(r2)
      assert(tdf.queryExecution.optimizedPlan.stats.attributeStats.isEmpty,
        "tombstoned snapshots must decline column stats")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("storage-partitioned join: bucketed graft tables join with NO exchange") {
    val w = java.nio.file.Files.createTempDirectory("graft-spj").toString
    val cat = "gspj"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", w)
    val dfA = spark.range(0, 5000)
      .select(col("id"), (col("id") * 2).as("va"))
    val dfB = spark.range(0, 5000)
      .select(col("id"), (col("id") * 3).as("vb"))
    val tA = GraftTable.create(dfA, s"$w/ns/a", "id", numFiles = 4,
      buckets = Some(4))
    GraftTable.create(dfB, s"$w/ns/b", "id", numFiles = 4,
      buckets = Some(4))
    // the physical layout: every file carries its bucket in the name
    assert(spark.read.format("graft").load(s"$w/ns/a").inputFiles.forall(f =>
      graft.sources.GraftBucket.bucketOfName(
        f.substring(f.lastIndexOf('/') + 1)).isDefined))

    // the V2 bucket function agrees with the writer's assignment column
    val bound = graft.sources.GraftBucket.BucketUnbound.bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
      .asInstanceOf[graft.sources.GraftBucket.BucketBound]
    val colBuckets = dfA.limit(50)
      .select(col("id"),
        graft.sources.GraftBucket.bucketIdCol(col("id"), 4).as("b"))
      .collect()
    colBuckets.foreach { r =>
      val viaFn = bound.produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](4, r.getLong(0))))
      assert(viaFn === r.getInt(1), s"id ${r.getLong(0)}")
    }

    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = (confs.map(_._1) :+
        "spark.sql.sources.v2.bucketing.shuffle.enabled")
      .map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def joined() = spark.table(s"$cat.ns.a")
        .join(spark.table(s"$cat.ns.b"), "id")
        .select(col("id"), col("va"), col("vb"))
      val j1 = joined()
      val got1 = j1.orderBy("id").collect()
      assert(got1.length === 5000)
      assert(got1.take(3).map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        === Array((0L, 0L, 0L), (1L, 2L, 3L), (2L, 4L, 6L)))
      val plan1 = j1.queryExecution.executedPlan.toString
      assert(!plan1.contains("Exchange"),
        s"bucketed graft join must elide BOTH shuffles:\n$plan1")

      // a merge keeps the bucket spec and layout: the join stays
      // exchange-free against the NEW version, with the merged values
      import spark.implicits._
      tA.commit(Seq((7L, -7L, "upsert"), (4999L, -4999L, "upsert"))
        .toDF("id", "va", "op"))
      assert(graft.sources.MutableParquetTable.manifestBuckets(
        graft.streaming.CdcMergeSink.latestSnapshot(s"$w/ns/a"))
        === Some(4))
      val j2 = joined()
      val got2 = j2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2(7L) === -7L && got2(4999L) === -4999L)
      assert(got2(8L) === 16L)
      assert(got2.size === 5000)
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange"),
        s"post-merge bucketed join must stay exchange-free:\n$plan2")

      // aggregation on the key over a bucketed scan also elides its
      // exchange: KeyGroupedPartitioning(bucket(n, id)) satisfies the
      // aggregate's ClusteredDistribution(id)
      val agg = spark.table(s"$cat.ns.a").groupBy("id")
        .agg(sum(col("va")).as("s"))
      assert(agg.count() === 5000)
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"groupBy(key) over a bucketed scan must not shuffle:\n$aggPlan")

      // ONE-side-bucketed join with v2 bucketing shuffle: Spark shuffles
      // only the plain side TO the graft table's bucketing — evaluating
      // the catalog's bucket function — so results prove the V2
      // function's hash matches the physical file layout
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      val plain = spark.range(0, 5000)
        .select(col("id"), (col("id") * 7).as("vp"))
      val j4 = spark.table(s"$cat.ns.a").join(plain, "id")
        .select(col("id"), col("va"), col("vp"))
      val got4 = j4.orderBy("id").collect()
      assert(got4.length === 5000)
      assert(got4(13).getLong(1) === 26L && got4(13).getLong(2) === 91L)
      val plan4 = j4.queryExecution.executedPlan.toString
      val exchanges4 =
        "(?m)Exchange ".r.findAllMatchIn(plan4).size
      assert(exchanges4 === 1,
        s"one-side SPJ must shuffle ONLY the plain side:\n$plan4")

      // negative control: with v2 bucketing off the same join shuffles —
      // the elision above really is the reported KeyGroupedPartitioning
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val j3 = joined()
      j3.collect()
      assert(j3.queryExecution.executedPlan.toString.contains("Exchange"),
        "control: un-SPJ'd join must shuffle")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }

    // maintenance that would break the bucket invariant refuses loudly:
    // a z-order rewrite emits un-bucketed files under a bucketed manifest
    val ez = intercept[Exception] {
      spark.sql(s"CALL $cat.system.zorder(table => 'ns.a', dims => 'va')")
    }
    def zmsg(x: Throwable): String = Option(x.getMessage).getOrElse("") +
      Option(x.getCause).map(zmsg).getOrElse("")
    assert(zmsg(ez).contains("bucket"), s"got: ${zmsg(ez)}")
  }

  test("unknown requiredFeatures in the manifest fail fast on every surface") {
    val r = java.nio.file.Files.createTempDirectory("graft-feat").toString
    val t = GraftTable.create(
      (0L until 100L).map(i => (i, i)).toDF("k", "v"), r, "k", numFiles = 2)
    val mPath = java.nio.file.Paths.get(s"$r/base", "_manifest.json")
    val stamped = java.nio.file.Files.readString(mPath)
      .patch(1, "\"requiredFeatures\":[\"quantum-compression\"],", 0)
    java.nio.file.Files.writeString(mPath, stamped)

    def msg(x: Throwable): String =
      Option(x.getMessage).getOrElse("") +
        Option(x.getCause).map(msg).getOrElse("")
    // V2 read path
    val e1 = intercept[Exception] {
      spark.read.format("graft").load(r).collect()
    }
    assert(msg(e1).contains("quantum-compression"), msg(e1))
    // Scala mutation path
    val e2 = intercept[Exception] {
      t.commit(Seq((1L, 2L, "upsert")).toDF("k", "v", "op"))
    }
    assert(msg(e2).contains("quantum-compression"), msg(e2))

    // a manifest requiring only KNOWN features reads fine
    val known = java.nio.file.Files.readString(mPath).replaceFirst(
      "\"requiredFeatures\":\\[\"quantum-compression\"\\]",
      "\"requiredFeatures\":[\"buckets\",\"checks\"]")
    java.nio.file.Files.writeString(mPath, known)
    assert(spark.read.format("graft").load(r).count() === 100)
  }

  test("legacy manifest without nullKeys counts declines top-k pruning") {
    val r = java.nio.file.Files.createTempDirectory("graft-topk-legacy").toString
    GraftTable.create(
      (0L until 400L).map(i => (i, i * 2)).toDF("k", "v"), r, "k",
      numFiles = 4)
    val snap = graft.streaming.CdcMergeSink.latestSnapshot(r)
    // simulate a manifest from a writer that predates null-count
    // recording: strip every nullKeys field. Absent must parse as
    // UNKNOWN (-1), never "known none" — a pre-upgrade file could hold
    // null keys invisible to min/max bounds, so the prune must decline.
    val mPath = java.nio.file.Paths.get(snap, "_manifest.json")
    val legacy = java.nio.file.Files.readString(mPath)
      .replaceAll(",\"nullKeys\":-?\\d+", "")
    java.nio.file.Files.writeString(mPath, legacy)

    val ranges = MutableParquetTable.manifestRanges(snap, "k").get
    assert(ranges.forall(_.nullKeys === -1L),
      "absent nullKeys must parse as unknown (-1)")

    val df = spark.read.format("graft").load(r)
    df.select("k").collect()
    val full = GraftSource.lastScanFiles.size
    val top = df.orderBy("k").limit(5).collect()
    assert(GraftSource.lastScanFiles.size === full,
      "legacy-manifest top-k must scan every file (unknown null counts)")
    assert(top.map(_.getLong(0)).toSeq === (0L until 5L).toSeq)
  }

  test("runtime file pruning preserves the bucketed partitioning contract") {
    val r = java.nio.file.Files.createTempDirectory("graft-spj-rf").toString
    GraftTable.create(
      spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v")),
      r, "id", numFiles = 4, buckets = Some(4))
    val snap = graft.streaming.CdcMergeSink.latestSnapshot(r)
    val tbl = new graft.sources.GraftBatchTable(spark, snap, Some(r))
    val scan = tbl.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[graft.sources.GraftParquetScan]
    val kgp = scan.outputPartitioning()
      .asInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]
    val declared = kgp.numPartitions()
    assert(declared === 4, s"one partition per bucket, got $declared")

    // a runtime point filter on key 0 prunes every bucket file whose
    // min > 0 — i.e. all but one. The reported partitioning is a
    // CONTRACT: the batch must still emit `declared` partitions, the
    // pruned buckets as EMPTY ones, or SPJ execution errors.
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("id", 0L)))
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length === declared,
      s"runtime filtering must not change the partition count: ${parts.length}")
    val byBucket = parts.map(_.asInstanceOf[graft.sources.GraftBucketPartition])
    assert(byBucket.map(_.bucket).toSet === (0 until 4).toSet)
    assert(byBucket.count(_.inner.files.nonEmpty) === 1,
      "exactly one bucket still holds the probed key's file")
    assert(byBucket.count(_.inner.files.isEmpty) === 3,
      "pruned buckets must survive as empty partitions")
  }

  test("zone DELETE/UPDATE on a bucketed table keep the file-bucket invariant") {
    val r = java.nio.file.Files.createTempDirectory("graft-bkt-dml").toString
    val t = GraftTable.create(
      spark.range(0, 2000).select(col("id"), (col("id") % 10).as("v")),
      r, "id", numFiles = 4, buckets = Some(4))
    // both predicates are zone-unprovable (no dim ranges on v): every
    // file rewrites, and every rewritten file must keep its b<id>- name
    t.updateWhere(col("v") === 3, "v" -> lit(33L))
    t.deleteWhere(col("v") === 7)
    val snap = graft.streaming.CdcMergeSink.latestSnapshot(r)
    assert(MutableParquetTable.manifestBuckets(snap) === Some(4))
    val names = MutableParquetTable.manifestFileNames(snap).get
    assert(names.nonEmpty)
    names.foreach { n =>
      val base = n.substring(n.lastIndexOf('/') + 1)
      assert(graft.sources.GraftBucket.bucketOfName(base).isDefined,
        s"rewritten file lost its bucket name: $n")
    }
    // the invariant is what keeps the table MERGEABLE: a follow-up merge
    // (routed by file-name bucket) must succeed
    t.commit(Seq((5L, 555L, "upsert")).toDF("id", "v", "op"))
    val got = t.read().collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(got.size === 1800, s"deleted stratum must be gone: ${got.size}")
    assert(got(3L) === 33L && got(13L) === 33L, "update applied")
    assert(!got.contains(7L) && !got.contains(17L), "delete applied")
    assert(got(5L) === 555L, "post-DML merge applied")
  }
}
