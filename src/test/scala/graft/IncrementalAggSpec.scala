package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IncrementalAgg
import graft.sources.ParquetTable
import graft.streaming.CdcMergeSink

/** Incremental aggregate maintenance: applying the change feed to a prior
  * aggregate must equal a full recompute of the new state. */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame) =
    df.orderBy("cat").collect().map(_.toSeq).toSeq

  test("delta application == full recompute across CDC batches") {
    val root = java.nio.file.Files.createTempDirectory("graft-iagg").toString
    // 200 rows, 4 categories, integer-valued doubles (exact FP algebra)
    val base = spark.range(0, 200).select(col("id"),
      concat(lit("c"), (col("id") % 4).cast("string")).as("cat"),
      (col("id") * 3).cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 4)

    // batch 0: updates move rows ACROSS groups, plus deletes and inserts
    OptimisticCommit.commit(spark, root, "id",
      Seq(
        (3L, "c9", 1000.0, "upsert"),   // group change c3 -> c9 (new group)
        (8L, "c0", 999.0, "upsert"),    // value change within c0
        (5L, "", 0.0, "delete"),        // delete from c1
        (500L, "c2", 7.0, "upsert"))    // insert into c2
        .toDF("id", "cat", "v", "op"))
    // batch 1: empty out a whole group (c9 again removed)
    OptimisticCommit.commit(spark, root, "id",
      Seq((3L, "", 0.0, "delete"), (500L, "c2", 8.5, "upsert"))
        .toDF("id", "cat", "v", "op"))

    val agg0 = IncrementalAgg.fullAgg(
      spark.read.parquet(s"$root/base"), Seq("cat"), Seq("v"))

    val feed01 = CdcMergeSink.changeFeed(spark, root, -1L, 0L, "id")
    val incr1 = IncrementalAgg.applyDelta(agg0, feed01, Seq("cat"), Seq("v"))
    val full1 = IncrementalAgg.fullAgg(
      CdcMergeSink.readAsOf(spark, root, 0L), Seq("cat"), Seq("v"))
    assert(sortedRows(incr1) === sortedRows(full1))
    // the moved row created group c9
    assert(incr1.where(col("cat") === "c9").head().getLong(1) === 1L)

    val feed12 = CdcMergeSink.changeFeed(spark, root, 0L, 1L, "id")
    val incr2 = IncrementalAgg.applyDelta(incr1, feed12, Seq("cat"), Seq("v"))
    val full2 = IncrementalAgg.fullAgg(
      CdcMergeSink.readAsOf(spark, root, 1L), Seq("cat"), Seq("v"))
    assert(sortedRows(incr2) === sortedRows(full2))
    // c9's only row deleted -> the group drops out entirely
    assert(incr2.where(col("cat") === "c9").isEmpty)
  }

  test("NULL group keys stay one group; NULL sum values count as zero") {
    // prev state: a NULL-cat group of 2 rows summing 7, one 'a' row
    val prev = IncrementalAgg.fullAgg(
      Seq((1L, Option.empty[String], 3.0), (2L, Option.empty[String], 4.0),
        (3L, Option("a"), 10.0)).toDF("id", "cat", "v"),
      Seq("cat"), Seq("v"))
    // feed: insert another NULL-cat row, and update 'a' to a NULL value
    val feed = CdcMergeSink.rowDiff(
      Seq((3L, Option("a"), Option(10.0))).toDF("id", "cat", "v"),
      Seq((3L, Option("a"), Option.empty[Double]),
        (9L, Option.empty[String], Option(5.0))).toDF("id", "cat", "v"),
      "id")
    val got = IncrementalAgg.applyDelta(prev, feed, Seq("cat"), Seq("v"))
      .orderBy(col("cat").asc_nulls_first).collect().map(_.toSeq)
    // NULL group merged (3 rows, sum 12); 'a' keeps cnt 1 with sum 0
    assert(got.length === 2)
    assert(got(0) === Seq(null, 3L, 12.0))
    assert(got(1) === Seq("a", 1L, 0.0))
    // and it equals the full recompute of the same final state
    val full = IncrementalAgg.fullAgg(
      Seq((1L, Option.empty[String], Option(3.0)),
        (2L, Option.empty[String], Option(4.0)),
        (9L, Option.empty[String], Option(5.0)),
        (3L, Option("a"), Option.empty[Double])).toDF("id", "cat", "v"),
      Seq("cat"), Seq("v"))
      .orderBy(col("cat").asc_nulls_first).collect().map(_.toSeq)
    assert(got.toSeq === full.toSeq)
  }

  test("extrema maintenance: deleted minimum triggers group rescan; inserts tighten free") {
    val root = java.nio.file.Files.createTempDirectory("graft-iaggx").toString
    val base = spark.range(0, 60).select(col("id"),
      concat(lit("e"), (col("id") % 3).cast("string")).as("cat"),
      (col("id") * 10).cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 3)
    // group e0 holds ids 0,3,6..57 -> min v = 0 (id 0), max v = 570 (id 57)
    OptimisticCommit.commit(spark, root, "id",
      Seq(
        (0L, "", 0.0, "delete"),          // deletes e0's MIN -> rescan path
        (58L, "e1", -500.0, "upsert"),    // new e1 min via insert (free path)
        (4L, "e1", 45.0, "upsert"))       // interior update, no extremum touch
        .toDF("id", "cat", "v", "op"))
    val prev = IncrementalAgg.fullAggWithExtrema(
      spark.read.parquet(s"$root/base"), Seq("cat"), Seq("v"), Seq("v"))
    val newState = CdcMergeSink.readAsOf(spark, root, 0L)
    val got = IncrementalAgg.applyDeltaWithExtrema(prev,
      CdcMergeSink.changeFeed(spark, root, -1L, 0L, "id"),
      newState, Seq("cat"), Seq("v"), Seq("v"))
    val full = IncrementalAgg.fullAggWithExtrema(newState,
      Seq("cat"), Seq("v"), Seq("v"))
    def rows(df: DataFrame) = df.orderBy("cat").collect().map(_.toSeq).toSeq
    assert(rows(got) === rows(full))
    // sanity on the two interesting groups
    val m = got.collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(m("e0")(3) === 30.0)   // new min after the old min's delete
    assert(m("e1")(3) === -500.0) // insert-tightened min
  }

  test("property: extrema delta == full recompute over random mutation chains") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-iaggp").toString
    val rnd = new scala.util.Random(23)
    val base = spark.range(0, 120).select(col("id"),
      concat(lit("p"), (col("id") % 4).cast("string")).as("cat"),
      (col("id") % 13).cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 3)
    var agg = IncrementalAgg.fullAggWithExtrema(
      spark.read.parquet(s"$root/base"), Seq("cat"), Seq("v"), Seq("v"))
    for (b <- 0 until 3) {
      val muts = (0 until 40).map { _ =>
        val k = rnd.nextInt(160).toLong
        if (rnd.nextInt(3) == 0) (k, "", 0.0, "delete")
        else (k, s"p${rnd.nextInt(5)}", rnd.nextInt(27) - 13.0, "upsert")
      }.groupBy(_._1).map(_._2.head).toSeq
      OptimisticCommit.commit(spark, root, "id", muts.toDF("id", "cat", "v", "op"))
      val newState = CdcMergeSink.readAsOf(spark, root, b.toLong)
      val feed = CdcMergeSink.changeFeed(spark, root, b - 1L, b.toLong, "id")
      agg = IncrementalAgg.applyDeltaWithExtrema(agg, feed, newState,
        Seq("cat"), Seq("v"), Seq("v"))
      val full = IncrementalAgg.fullAggWithExtrema(newState,
        Seq("cat"), Seq("v"), Seq("v"))
      val a = agg.orderBy("cat").collect().map(_.toSeq).toSeq
      val f = full.orderBy("cat").collect().map(_.toSeq).toSeq
      assert(a === f, s"diverged at batch $b")
    }
  }

  test("empty feed is an exact no-op") {
    val agg = IncrementalAgg.fullAgg(
      Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "cat", "v"),
      Seq("cat"), Seq("v"))
    val emptyFeed = CdcMergeSink.rowDiff(
      Seq((1L, "a", 2.0)).toDF("id", "cat", "v"),
      Seq((1L, "a", 2.0)).toDF("id", "cat", "v"), "id")
    assert(sortedRows(IncrementalAgg.applyDelta(agg, emptyFeed,
      Seq("cat"), Seq("v"))) === sortedRows(agg))
  }

  test("hll maintenance: delta refresh == full recompute; inserts merge, retractions rescan") {
    val root = java.nio.file.Files.createTempDirectory("graft-iaggh").toString
    // values deliberately collide across rows: distinct(v) per group is
    // what the sketch tracks, so surviving duplicates matter
    val base = spark.range(0, 90).select(col("id"),
      concat(lit("h"), (col("id") % 3).cast("string")).as("cat"),
      concat(lit("v"), (col("id") % 7).cast("string")).as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 3)
    OptimisticCommit.commit(spark, root, "id",
      Seq(
        (200L, "h0", "v99", "upsert"),  // pure insert: union path (clean)
        (201L, "h1", "v0", "upsert"),   // insert of an already-seen value
        (3L, "", "", "delete"),         // retraction -> h0 dirty
        (4L, "h4", "v4", "upsert"),     // group move h1 -> h4: h1 dirty
        (5L, "h2", "vX", "upsert"),     // value change in place: h2 dirty
        (7L, "h1", "v0", "upsert"))     // no-op-shaped update: NOT dirty
        .toDF("id", "cat", "v", "op"))
    val prev = IncrementalAgg.fullAggWithHll(
      spark.read.parquet(s"$root/base"), Seq("cat"), "v")
    val newState = CdcMergeSink.readAsOf(spark, root, 0L)
    val feed = CdcMergeSink.changeFeed(spark, root, -1L, 0L, "id")
    val got = IncrementalAgg.applyDeltaWithHll(prev, feed, newState,
      Seq("cat"), "v")
    val full = IncrementalAgg.fullAggWithHll(newState, Seq("cat"), "v")
    def est(df: DataFrame) = df
      .select(col("cat"), col("cnt"),
        hll_sketch_estimate(col("hll_v")).as("e"))
      .orderBy("cat").collect().map(_.toSeq).toSeq
    // delta-maintained estimates EQUAL the full recompute's (union
    // linearity for clean groups, rescan for dirty ones)
    assert(est(got) === est(full))
    // ... and the estimates match the exact distincts at this scale
    val exact = newState.groupBy("cat")
      .agg(countDistinct(col("v")).as("d"))
      .orderBy("cat").collect().map(r => r.getString(0) -> r.getLong(1))
    val gotE = got.select(col("cat"),
        hll_sketch_estimate(col("hll_v")).as("e"))
      .orderBy("cat").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(gotE.toSeq === exact.toSeq)
    // cost ∝ delta: ONLY the retraction-touched groups rescan — the
    // recompute branch's input is newTable ⋈ dirtyKeys, so an
    // insert-only feed must keep the dirty set EMPTY (plan-checkable
    // via the feed-derived dirty predicate itself)
    val insertOnly = CdcMergeSink.rowDiff(
      spark.emptyDataFrame.select(lit(1L).as("id"), lit("x").as("cat"),
        lit("v").as("v")).where(lit(false)),
      Seq((300L, "h0", "vNew")).toDF("id", "cat", "v"), "id")
    val survives2 = col("after").isNotNull &&
      (col("after.cat") <=> col("before.cat")) &&
      (col("after.v") <=> col("before.v"))
    assert(insertOnly.where(col("before").isNotNull && !survives2).isEmpty,
      "insert-only feed must mark no group dirty")
    // second batch chains on the maintained state (sketch state is
    // genuinely incremental, not recomputed from scratch)
    OptimisticCommit.commit(spark, root, "id",
      Seq((301L, "h0", "vZ", "upsert"), (6L, "", "", "delete"))
        .toDF("id", "cat", "v", "op"))
    val state2 = CdcMergeSink.readAsOf(spark, root, 1L)
    val got2 = IncrementalAgg.applyDeltaWithHll(got,
      CdcMergeSink.changeFeed(spark, root, 0L, 1L, "id"),
      state2, Seq("cat"), "v")
    assert(est(got2) === est(IncrementalAgg.fullAggWithHll(state2,
      Seq("cat"), "v")))
  }

  test("quantile maintenance: delta sketch == full recompute EXACTLY; " +
      "estimates track exact ranks") {
    val root = java.nio.file.Files.createTempDirectory("graft-iaggq").toString
    val k = 16 // small k so sampling (not the whole-group regime) is hit
    val base = spark.range(0, 120).select(col("id"),
      concat(lit("q"), (col("id") % 3).cast("string")).as("cat"),
      (col("id") * 7 % 101).cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 3)
    OptimisticCommit.commit(spark, root, "id",
      Seq(
        (500L, "q0", 999.0, "upsert"),  // pure insert (clean merge path)
        (3L, "", 0.0, "delete"),        // retraction -> q0 dirty
        (4L, "q4", 4.0, "upsert"),      // group move q1 -> q4: q1 dirty
        (5L, "q2", 123.5, "upsert"),    // value change in place: q2 dirty
        (7L, "q1", 49.0, "upsert"))     // no-op-shaped update: NOT dirty
        .toDF("id", "cat", "v", "op"))
    val prev = IncrementalAgg.fullAggWithQuantile(
      spark.read.parquet(s"$root/base"), Seq("cat"), "v", "id", k)
    val newState = CdcMergeSink.readAsOf(spark, root, 0L)
    val feed = CdcMergeSink.changeFeed(spark, root, -1L, 0L, "id")
    val got = IncrementalAgg.applyDeltaWithQuantile(prev, feed, newState,
      Seq("cat"), "v", "id", k)
    val full = IncrementalAgg.fullAggWithQuantile(newState,
      Seq("cat"), "v", "id", k)
    // the sketch ARRAYS are equal, not merely the estimates — bottom-k
    // union closure for clean groups, rescan for dirty ones
    def rows(df: DataFrame) = df.orderBy("cat").collect().map(_.toSeq).toSeq
    assert(rows(got) === rows(full))
    // partitioning invariance: the sketch is pure set algebra
    assert(rows(IncrementalAgg.fullAggWithQuantile(
      newState.repartition(7), Seq("cat"), "v", "id", k)) === rows(full))
    // estimate sits within the DKW ε band of the exact rank (ε = 0.35
    // at k = 16 gives miss probability 2e-2; the fixed fixture is
    // deterministic, so this is a regression pin, not a flaky draw)
    val est = got.select(col("cat"),
        graft.functions.Udx.quantileSampleEstimate(col("qsk_v"), 500000L)
          .as("e50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val byCat = newState.select(col("cat"), col("v"))
      .collect().groupBy(_.getString(0))
      .map { case (c, rs) => c -> rs.map(_.getDouble(1)).sorted }
    byCat.foreach { case (c, vs) =>
      val rank = vs.count(_ <= est(c))
      assert(math.abs(rank - (vs.length + 1) / 2) <= 0.35 * vs.length,
        s"group $c: p50 estimate ${est(c)} at rank $rank of ${vs.length}")
    }
    // second batch chains on the maintained state
    OptimisticCommit.commit(spark, root, "id",
      Seq((501L, "q0", 7.5, "upsert"), (6L, "", 0.0, "delete"))
        .toDF("id", "cat", "v", "op"))
    val state2 = CdcMergeSink.readAsOf(spark, root, 1L)
    val got2 = IncrementalAgg.applyDeltaWithQuantile(got,
      CdcMergeSink.changeFeed(spark, root, 0L, 1L, "id"),
      state2, Seq("cat"), "v", "id", k)
    assert(rows(got2) === rows(IncrementalAgg.fullAggWithQuantile(state2,
      Seq("cat"), "v", "id", k)))
  }
}
