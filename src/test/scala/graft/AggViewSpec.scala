package graft

import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.sources.ParquetTable
import graft.streaming.{AggView, CdcMergeSink}

/** Materialized aggregate view maintenance over the CDC snapshot chain. */
class AggViewSpec extends SparkSpec {
  import spark.implicits._

  test("view catches up incrementally and matches a full recompute per version") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggview").toString
    val base = spark.range(0, 300).select(col("id"),
      concat(lit("g"), (col("id") % 5).cast("string")).as("cat"),
      (col("id") % 7).cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 4)

    OptimisticCommit.commit(spark, root, "id",
      Seq((10L, "g0", 100.0, "upsert"), (11L, "", 0.0, "delete"),
        (900L, "g7", 1.5, "upsert")).toDF("id", "cat", "v", "op"))
    OptimisticCommit.commit(spark, root, "id",
      Seq((900L, "g7", 2.5, "upsert"), (10L, "", 0.0, "delete"))
        .toDF("id", "cat", "v", "op"))

    assert(AggView.refresh(spark, root, Seq("cat"), Seq("v")) === 2)
    assert(AggView.viewVersions(root) === Seq(0L, 1L))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cat").collect().map(_.toSeq).toSeq
    assert(rows(AggView.read(spark, root)) === rows(IncrementalAgg.fullAgg(
      CdcMergeSink.readAsOf(spark, root, 1L), Seq("cat"), Seq("v"))))
    // intermediate view version matches that version's state too
    assert(rows(spark.read.parquet(s"$root/aggview/v0")) ===
      rows(IncrementalAgg.fullAgg(
        CdcMergeSink.readAsOf(spark, root, 0L), Seq("cat"), Seq("v"))))

    // idempotent: nothing new to build
    assert(AggView.refresh(spark, root, Seq("cat"), Seq("v")) === 0)

    // next batch -> exactly one incremental step
    OptimisticCommit.commit(spark, root, "id",
      Seq((0L, "g0", 50.0, "upsert")).toDF("id", "cat", "v", "op"))
    assert(AggView.refresh(spark, root, Seq("cat"), Seq("v")) === 1)
    assert(rows(AggView.read(spark, root)) === rows(IncrementalAgg.fullAgg(
      CdcMergeSink.readAsOf(spark, root, 2L), Seq("cat"), Seq("v"))))
  }

  test("refresh under a different aggregation spec fails fast, never serves stale") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggview3").toString
    val base = spark.range(0, 20).select(col("id"),
      lit("g").as("cat"), col("id").cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 2)
    OptimisticCommit.commit(spark, root, "id",
      Seq((1L, "g", 5.0, "upsert")).toDF("id", "cat", "v", "op"))
    AggView.refresh(spark, root, Seq("cat"), Seq("v"))
    val e = intercept[IllegalArgumentException] {
      AggView.refresh(spark, root, Seq("cat"), Seq.empty)
    }
    assert(e.getMessage.contains("built with"))
    // same spec still refreshes fine
    assert(AggView.refresh(spark, root, Seq("cat"), Seq("v")) === 0)
  }

  test("crashed half-written view version is rebuilt") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggview2").toString
    val base = spark.range(0, 50).select(col("id"),
      lit("only").as("cat"), col("id").cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 2)
    OptimisticCommit.commit(spark, root, "id",
      Seq((1L, "only", 999.0, "upsert")).toDF("id", "cat", "v", "op"))
    // fake a crash: dir with junk, no _SUCCESS
    val half = java.nio.file.Paths.get(s"$root/aggview/v0")
    java.nio.file.Files.createDirectories(half)
    java.nio.file.Files.writeString(half.resolve("junk.parquet"), "x")
    assert(AggView.refresh(spark, root, Seq("cat"), Seq("v")) === 1)
    val got = AggView.read(spark, root).head()
    assert(got.getLong(1) === 50L)
    assert(got.getDouble(2) === (0 until 50).map(_.toDouble).sum - 1.0 + 999.0)
  }

  test("hll column: the view maintains a distinct-count sketch per group") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggvh").toString
    // values collide across rows: distinct(v) per cat is what the
    // sketch tracks
    val base = spark.range(0, 200).select(col("id"),
      concat(lit("h"), (col("id") % 4).cast("string")).as("cat"),
      concat(lit("v"), (col("id") % 9).cast("string")).as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 4)
    OptimisticCommit.commit(spark, root, "id",
      Seq((500L, "h0", "vNew", "upsert"),  // insert-only union path
        (3L, "", "", "delete"),            // retraction -> h3 rescans
        (5L, "h9", "v5", "upsert"))        // group move -> h1 dirty too
        .toDF("id", "cat", "v", "op"))
    OptimisticCommit.commit(spark, root, "id",
      Seq((501L, "h9", "vZ", "upsert")).toDF("id", "cat", "v", "op"))

    assert(AggView.refresh(spark, root, Seq("cat"), Seq.empty,
      hllCol = Some("v")) === 2)
    def est(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cat"), col("cnt"),
        hll_sketch_estimate(col("hll_v")).as("e"))
      .orderBy("cat").collect().map(_.toSeq).toSeq
    val full = IncrementalAgg.fullAggWithHll(
      CdcMergeSink.readAsOf(spark, root, 1L), Seq("cat"), "v")
    assert(est(AggView.read(spark, root)) === est(full))
    // ... and the estimates equal the exact distincts at this scale
    val exact = CdcMergeSink.readAsOf(spark, root, 1L)
      .groupBy("cat").agg(countDistinct(col("v")).as("d"))
      .orderBy("cat").collect().map(r => r.getString(0) -> r.getLong(1))
    val got = AggView.read(spark, root)
      .select(col("cat"), hll_sketch_estimate(col("hll_v")).as("e"))
      .orderBy("cat").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq === exact.toSeq)
    // a refresh under a DIFFERENT spec (no hll) must refuse
    intercept[IllegalArgumentException](
      AggView.refresh(spark, root, Seq("cat"), Seq.empty))
  }

  test("quantile column: the view maintains a percentile sample per group") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggvq").toString
    val base = spark.range(0, 200).select(col("id"),
      concat(lit("g"), (col("id") % 4).cast("string")).as("cat"),
      (col("id") * 13 % 97).cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 4)
    OptimisticCommit.commit(spark, root, "id",
      Seq((500L, "g0", 777.0, "upsert"),   // insert-only merge path
        (3L, "", 0.0, "delete"),           // retraction -> g3 rescans
        (5L, "g9", 5.0, "upsert"))         // group move -> g1 dirty too
        .toDF("id", "cat", "v", "op"))
    OptimisticCommit.commit(spark, root, "id",
      Seq((501L, "g9", 1.5, "upsert")).toDF("id", "cat", "v", "op"))
    assert(AggView.refresh(spark, root, Seq("cat"), Seq.empty,
      quantileCol = Some("v")) === 2)
    // the maintained sketch EQUALS the full recompute's, array-exact
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cat"), col("cnt"), col("qsk_v"))
      .orderBy("cat").collect().map(_.toSeq).toSeq
    val full = IncrementalAgg.fullAggWithQuantile(
      CdcMergeSink.readAsOf(spark, root, 1L), Seq("cat"), "v", "id")
    assert(rows(AggView.read(spark, root)) === rows(full))
    // ... and a served p50 exists per group (the dashboard read shape)
    val served = AggView.read(spark, root)
      .select(col("cat"),
        graft.functions.Udx.quantileSampleEstimate(col("qsk_v"), 500000L)
          .as("p50"))
      .collect()
    assert(served.length === 5 && served.forall(!_.isNullAt(1)))
    // a refresh under a DIFFERENT spec (no quantile) must refuse
    intercept[IllegalArgumentException](
      AggView.refresh(spark, root, Seq("cat"), Seq.empty))
  }

  test("a merge key named with a quote and a backslash maintains the view") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggvkey").toString
    val key = "i\"d\\x"
    val t = GraftTable.create(spark.range(0, 40).select(col("id").as(key),
        concat(lit("g"), (col("id") % 3).cast("string")).as("cat"),
        col("id").cast("double").as("v")),
      root, key, numFiles = 2)
    t.commit(Seq((5L, "g9", 50.0, "upsert"), (6L, "", 0.0, "delete"))
      .toDF(key, "cat", "v", "op"))
    // the view's change feed is keyed by the manifest key, which must
    // come back unescaped
    assert(AggView.refresh(spark, root, Seq("cat"), Seq("v")) === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cat").collect().map(_.toSeq).toSeq
    assert(rows(AggView.read(spark, root)) === rows(IncrementalAgg.fullAgg(
      CdcMergeSink.readAsOf(spark, root, 0L), Seq("cat"), Seq("v"))))
  }

  /** A table with a 200-row base in 4 groups and two committed batches
    * (inserts, a retraction, a group move, an update). */
  private def tableWithTwoBatches(root: String): Unit = {
    val base = spark.range(0, 200).select(col("id"),
      concat(lit("g"), (col("id") % 4).cast("string")).as("cat"),
      (col("id") * 13 % 97).cast("double").as("v"),
      concat(lit("t"), (col("id") % 9).cast("string")).as("t"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 4)
    OptimisticCommit.commit(spark, root, "id",
      Seq((500L, "g0", 777.0, "tNew", "upsert"), (3L, "", 0.0, "", "delete"),
        (5L, "g9", 5.0, "t5", "upsert")).toDF("id", "cat", "v", "t", "op"))
    OptimisticCommit.commit(spark, root, "id",
      Seq((501L, "g9", 1.5, "tZ", "upsert"), (7L, "g3", 8.0, "t7", "upsert"))
        .toDF("id", "cat", "v", "t", "op"))
  }

  private def viewEntries(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/aggview"))
    try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    finally s.close()
  }

  test("two concurrent refreshes both return, publish each version once, and leave no stage") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggvcc").toString
    tableWithTwoBatches(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val start = new java.util.concurrent.CountDownLatch(1)
      val refreshes = (1 to 2).map(_ => scala.concurrent.Future {
        start.await()
        AggView.refresh(spark, root, Seq("cat"), Seq("v"))
      }(ec))
      start.countDown()
      val built = refreshes.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(5, "min")))
      // every version is published by exactly one of them
      assert(built.sum === 2, s"published per refresher: $built")
    } finally pool.shutdown()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cat").collect().map(_.toSeq).toSeq
    Seq(0L, 1L).foreach { v =>
      assert(rows(spark.read.parquet(s"$root/aggview/v$v")) ===
        rows(IncrementalAgg.fullAgg(CdcMergeSink.readAsOf(spark, root, v),
          Seq("cat"), Seq("v"))), s"view version $v")
    }
    assert(viewEntries(root) === Seq("_spec", "v0", "v1"))
  }

  test("sketch columns take no extra checkpoint job per refresh step") {
    val work = java.nio.file.Files.createTempDirectory("graft-aggvck").toString
    val (plain, sketched) = (s"$work/plain", s"$work/sketched")
    tableWithTwoBatches(plain)
    tableWithTwoBatches(sketched)
    def checkpoints(refresh: => Int): Int = {
      val (built, jobs) = JobLog.recording(spark)(refresh)
      assert(built === 2)
      jobs.count(_.names.exists(_.startsWith("localCheckpoint")))
    }
    val plainCk = checkpoints(
      AggView.refresh(spark, plain, Seq("cat"), Seq("v")))
    val sketchedCk = checkpoints(AggView.refresh(spark, sketched,
      Seq("cat"), Seq("v"), hllCol = Some("t"), quantileCol = Some("v")))
    // per step: the previous view and the change feed, once each
    assert(plainCk === 4)
    assert(sketchedCk === plainCk)
  }

  test("refreshing a current view opens no view version") {
    val s = spark; import s.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-aggcur").toString
    def currentViewJobs(versions: Int): Int = {
      val root = s"$work/t$versions"
      tableWithTwoBatches(root)
      (2 until versions).foreach(i => OptimisticCommit.commit(spark, root,
        "id", Seq((600L + i, "g1", 1.0, "tX", "upsert"))
          .toDF("id", "cat", "v", "t", "op")))
      assert(CdcMergeSink.versions(root).size === versions)
      assert(AggView.refresh(spark, root, Seq("cat"), Seq("v")) === versions)
      val (built, jobs) = JobLog.recording(spark)(
        AggView.refresh(spark, root, Seq("cat"), Seq("v")))
      assert(built === 0)
      jobs.size
    }
    assert(currentViewJobs(6) === currentViewJobs(2))
  }
}
