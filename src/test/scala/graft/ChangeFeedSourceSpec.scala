package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-feed read mode of the graft source
  * ([[graft.sources.GraftChangeFeed]]): `option("changeFeed", "true")`
  * as batch (version ranges) and micro-batch streaming (one table
  * version per batch, version-number offsets). */
class ChangeFeedSourceSpec extends SparkSpec {

  /** Table with three feed-persisted commits: v0 upserts 5 + inserts
    * 100, v1 deletes 7, v2 upserts 5 again. */
  private def mkTable(root: String): GraftTable = {
    val base = spark.range(0, 50)
      .select(col("id"), (col("id") * 2).cast("double").as("v"))
    val t = GraftTable.create(base, root, "id", numFiles = 2)
    def mut(rows: Seq[(Long, Double, String)]): DataFrame = {
      val s = spark; import s.implicits._
      rows.toDF("id", "v", "op")
    }
    t.commitWithFeed(mut(Seq((5L, 555.0, "upsert"), (100L, 1.0, "upsert"))))
    t.commitWithFeed(mut(Seq((7L, 0.0, "delete"))))
    t.commitWithFeed(mut(Seq((5L, 777.0, "upsert"))))
    t
  }

  private def flat(df: DataFrame): Seq[(Long, String, Any, Any, Long)] =
    df.select(col("id"), col("change_type"), col("before.v"),
        col("after.v"), col("_commit_version"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.get(2), r.get(3),
        r.getLong(4)))
      .sortBy(x => (x._5, x._1))

  test("batch CDF: full history, and version-range slices") {
    val root = Files.createTempDirectory("graft-cdf").toString
    mkTable(root)
    val all = spark.read.format("graft").option("changeFeed", "true")
      .load(root)
    assert(flat(all) === Seq(
      (5L, "update", 10.0, 555.0, 0L),
      (100L, "insert", null, 1.0, 0L),
      (7L, "delete", 14.0, null, 1L),
      (5L, "update", 555.0, 777.0, 2L)))

    val sliced = spark.read.format("graft").option("changeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 1).load(root)
    assert(flat(sliced) === Seq((7L, "delete", 14.0, null, 1L)))

    // writes to the feed relation are rejected
    val e = intercept[Exception] {
      all.limit(1).write.format("graft").option("changeFeed", "true")
        .mode("append").save(root)
    }
    assert(e.getMessage.contains("read-only") ||
      Option(e.getCause).exists(_.getMessage.contains("read-only")))
  }

  test("streaming CDF: version-per-batch, catch-up then incremental, gaps skipped") {
    val root = Files.createTempDirectory("graft-cdf-s").toString
    val t = mkTable(root)
    val q = spark.readStream.format("graft").option("changeFeed", "true")
      .option("startingVersion", 0).load(root)
      .writeStream.format("memory").queryName("cdf_sink")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-cp").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(flat(spark.table("cdf_sink")).size === 4) // v0..v2 caught up

      // a PLAIN commit (no feed) is a gap: offset advances, no rows
      val s = spark; import s.implicits._
      t.commit(Seq((9L, 0.0, "delete")).toDF("id", "v", "op"))
      q.processAllAvailable()
      assert(flat(spark.table("cdf_sink")).size === 4)

      // the next feed-persisted commit arrives exactly once
      t.commitWithFeed(Seq((11L, 11.5, "upsert")).toDF("id", "v", "op"))
      q.processAllAvailable()
      assert(flat(spark.table("cdf_sink")).takeRight(1) ===
        Seq((11L, "update", 22.0, 11.5, 4L)))
      assert(flat(spark.table("cdf_sink")).size === 5)
    } finally q.stop()
  }

  test("catalog metadata table <t>.changes: SQL and streaming CDF by name") {
    val w = Files.createTempDirectory("graft-cdf-wh").toString
    spark.conf.set("spark.sql.catalog.gcdf",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdf.root", w)
    mkTable(s"$w/ns/t")

    // pure-SQL batch CDF by name
    val sql = spark.sql(
      "SELECT id, change_type, _commit_version FROM gcdf.ns.t.changes " +
        "ORDER BY _commit_version, id")
    assert(sql.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq === Seq(
      (5L, "update", 0L), (100L, "insert", 0L),
      (7L, "delete", 1L), (5L, "update", 2L)))

    // version bounds as per-read options on the metadata table
    assert(spark.read.option("startingVersion", 2)
      .table("gcdf.ns.t.changes").count() === 1)

    // streaming by name, catching up from version 0
    val q = spark.readStream.option("startingVersion", 0)
      .table("gcdf.ns.t.changes")
      .writeStream.format("memory").queryName("cdf_cat")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-wcp").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_cat").count() === 4)
    } finally q.stop()

    // the metadata table is read-only
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gcdf.ns.t.changes VALUES " +
        "(1, 'insert', NULL, NULL, 9)")
    }
    assert(e.getMessage.contains("read-only") ||
      Option(e.getCause).exists(_.getMessage.contains("read-only")))
  }

  test("maxVersionsPerTrigger paces catch-up; Trigger.AvailableNow drains and stops") {
    val root = Files.createTempDirectory("graft-cdf-adm").toString
    mkTable(root) // three feed-persisted versions

    // paced: one version per micro-batch -> three non-empty batches
    val q1 = spark.readStream.format("graft").option("changeFeed", "true")
      .option("startingVersion", 0).option("maxVersionsPerTrigger", 1)
      .load(root)
      .writeStream.format("memory").queryName("cdf_paced")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-admcp").toString)
      .start()
    try {
      q1.processAllAvailable()
      assert(flat(spark.table("cdf_paced")).size === 4)
      val nonEmpty = q1.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty === 3, s"expected 3 paced batches, saw $nonEmpty")
    } finally q1.stop()

    // AvailableNow: drains the pinned head (still paced), then stops
    val q2 = spark.readStream.format("graft").option("changeFeed", "true")
      .option("startingVersion", 0).option("maxVersionsPerTrigger", 1)
      .load(root)
      .writeStream.format("memory").queryName("cdf_avnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-avncp").toString)
      .start()
    assert(q2.awaitTermination(120000), "AvailableNow query did not stop")
    assert(flat(spark.table("cdf_avnow")).size === 4)
  }

  test("a crashed feed write stalls the stream data-loss-safe; repairFeed resumes it") {
    val root = Files.createTempDirectory("graft-cdf-crash").toString
    val t = mkTable(root)
    // simulate the crash: v2 committed feedPending, but its feed vanished
    import scala.jdk.CollectionConverters._
    val s2 = java.nio.file.Files.walk(
      java.nio.file.Paths.get(root, "_changes", "v2"))
    try s2.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    finally s2.close()

    val q = spark.readStream.format("graft").option("changeFeed", "true")
      .option("startingVersion", 0).load(root)
      .writeStream.format("memory").queryName("cdf_crash")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-crcp").toString)
      .start()
    try {
      q.processAllAvailable()
      // offset held BEFORE v2: its rows are not consumable yet, and the
      // versions behind it are delivered
      assert(flat(spark.table("cdf_crash")).map(_._5).toSet === Set(0L, 1L))

      t.repairFeed(2L)
      q.processAllAvailable()
      assert(flat(spark.table("cdf_crash")).takeRight(1) ===
        Seq((5L, "update", 555.0, 777.0, 2L)))
    } finally q.stop()
  }

  test("batch CDF fails fast on a crashed feed write instead of dropping the version") {
    val root = Files.createTempDirectory("graft-cdf-bcrash").toString
    val t = mkTable(root)
    // crash: v2 committed feedPending, but its feed dir vanished
    import scala.jdk.CollectionConverters._
    val s2 = java.nio.file.Files.walk(
      java.nio.file.Paths.get(root, "_changes", "v2"))
    try s2.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    finally s2.close()

    // an unbounded batch read includes v2 — returning v0/v1's rows as if
    // v2 had no changes would be silent data loss, so it must throw
    val e = intercept[Exception] {
      spark.read.format("graft").option("changeFeed", "true")
        .load(root).count()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("repair_feed"), s"unexpected error: ${msg(e)}")

    // bounding the read BELOW the crashed version is fine (in-flight race escape hatch)
    assert(spark.read.format("graft").option("changeFeed", "true")
      .option("endingVersion", 1).load(root).count() === 3)

    // repair restores the unbounded read
    t.repairFeed(2L)
    assert(spark.read.format("graft").option("changeFeed", "true")
      .load(root).count() === 4)
  }

  test("maxVersionsPerTrigger counts feed-bearing versions, not gap commits") {
    val root = Files.createTempDirectory("graft-cdf-feedpace").toString
    val base = spark.range(0, 50)
      .select(col("id"), (col("id") * 2).cast("double").as("v"))
    val t = GraftTable.create(base, root, "id", numFiles = 2)
    val s = spark; import s.implicits._
    def mut(rows: (Long, Double, String)*): DataFrame =
      rows.toDF("id", "v", "op")
    t.commitWithFeed(mut((5L, 1.0, "upsert")))  // v0 feed
    t.commit(mut((6L, 2.0, "upsert")))           // v1 gap
    t.commit(mut((7L, 3.0, "upsert")))           // v2 gap
    t.commitWithFeed(mut((8L, 4.0, "upsert")))  // v3 feed

    val q = spark.readStream.format("graft").option("changeFeed", "true")
      .option("startingVersion", 0).option("maxVersionsPerTrigger", 1)
      .load(root)
      .writeStream.format("memory").queryName("cdf_feedpace")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-fpcp").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_feedpace").count() === 2)
      // the budget is one FEED per trigger: v0 (+ its trailing gaps) in
      // batch one, v3 in batch two — versions-arithmetic pacing would
      // burn triggers on the v1/v2 gaps and deliver empty feed batches
      val withRows = q.recentProgress.count(_.numInputRows > 0)
      val empty = q.recentProgress.count(_.numInputRows == 0)
      assert(withRows === 2, s"expected 2 feed batches, saw $withRows")
      assert(empty <= 1, s"gap versions burned $empty empty trigger(s)")
    } finally q.stop()
  }

  test("startingTimestamp resolution is a binary search over manifest commit times") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-cdf-bsearch").toString
    val t = GraftTable.create(
      spark.range(0, 20).select(col("id"), (col("id") * 2).as("v")),
      root, "id", numFiles = 1)
    (0 until 8).foreach { i =>
      t.commitWithFeed(Seq((i.toLong, 100L + i, "upsert"))
        .toDF("id", "v", "op"))
      Thread.sleep(5) // distinct commit times
    }
    def timeOf(v: Long): Long =
      graft.sources.Manifest.read(s"$root/v$v").flatMap(_.committedAtMs).get
    val counted = new java.util.concurrent.atomic.AtomicInteger
    def countingRead(dir: String): Option[graft.sources.Manifest] = {
      counted.incrementAndGet()
      graft.sources.Manifest.read(dir)
    }
    // correctness at every boundary, each within the logarithmic budget
    val budget = (math.log(8) / math.log(2)).ceil.toInt + 1 // = 4
    (0L until 8L).foreach { v =>
      counted.set(0)
      assert(graft.sources.GraftChangeFeed.versionAtOrAfterWith(
        root, timeOf(v), countingRead) === Some(v))
      assert(counted.get() <= budget,
        s"v$v took ${counted.get()} manifest reads (budget $budget)")
    }
    // before-all and after-all edges
    assert(graft.sources.GraftChangeFeed.versionAtOrAfterWith(
      root, 0L, countingRead) === Some(0L))
    assert(graft.sources.GraftChangeFeed.versionAtOrAfterWith(
      root, timeOf(7L) + 1, countingRead) === None)
  }

  test("CDC replication: feed stream into the exactly-once sink replicates a table") {
    val srcRoot = Files.createTempDirectory("graft-repl-src").toString
    val dstRoot = Files.createTempDirectory("graft-repl-dst").toString
    val src = mkTable(srcRoot) // three feed-persisted commits
    val base = spark.range(0, 50)
      .select(col("id"), (col("id") * 2).cast("double").as("v"))
    GraftTable.create(base, dstRoot, "id", numFiles = 2)

    // feed rows → mutations: after image for upserts, before for the
    // deleted key; _commit_version is the intra-epoch collapse order
    // (one epoch may span several source versions)
    val muts = spark.readStream.format("graft")
      .option("changeFeed", "true").option("startingVersion", 0)
      .load(srcRoot)
      .select(col("id"),
        coalesce(col("after.v"), col("before.v")).as("v"),
        when(col("change_type") === "delete", "delete")
          .otherwise("upsert").as("op"),
        col("_commit_version").as("seq"))
    val q = muts.writeStream.format("graft")
      .option("seqColumn", "seq")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-repl-cp").toString)
      .start(dstRoot)
    def same(): Unit = {
      val a = GraftTable(spark, srcRoot, "id").read()
        .orderBy("id").collect().toSeq
      val b = GraftTable(spark, dstRoot, "id").read()
        .orderBy("id").collect().toSeq
      assert(a === b)
    }
    try {
      q.processAllAvailable()
      same() // replica caught up with the full history

      // live tail: more source commits replicate incrementally
      val s = spark; import s.implicits._
      src.commitWithFeed(Seq((20L, -20.0, "upsert"), (3L, 0.0, "delete"))
        .toDF("id", "v", "op"))
      q.processAllAvailable()
      same()
    } finally q.stop()
  }

  test("startingTimestamp resolves to the first commit at or after the wall clock") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-cdf-ts").toString
    val t = GraftTable.create(
      spark.range(0, 20).select(col("id"), (col("id") * 2).as("v")),
      root, "id", numFiles = 1)
    t.commitWithFeed(Seq((1L, 11L, "upsert")).toDF("id", "v", "op"))
    Thread.sleep(30)
    val cut = System.currentTimeMillis()
    Thread.sleep(30)
    t.commitWithFeed(Seq((2L, 22L, "upsert")).toDF("id", "v", "op"))

    val late = spark.read.format("graft").option("changeFeed", "true")
      .option("startingTimestamp", cut.toString).load(root)
    assert(late.select("_commit_version").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    // a timestamp past every commit reads nothing (and a stream would
    // emit only future commits)
    assert(spark.read.format("graft").option("changeFeed", "true")
      .option("startingTimestamp",
        (System.currentTimeMillis() + 60000).toString)
      .load(root).isEmpty)
    // explicit startingVersion wins over the timestamp
    assert(spark.read.format("graft").option("changeFeed", "true")
      .option("startingVersion", 0)
      .option("startingTimestamp", cut.toString)
      .load(root).count() === 2)
  }

  test("composite-identity tables diff on the full key tuple") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-cdf-comp").toString
    // (d, id) identity: rows (1,1) and (1,2) share the leading value —
    // a leading-key-only diff would cross-match them
    val base = Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "c"))
      .toDF("d", "id", "v")
    val t = GraftTable.create(base, root, "d", numFiles = 1,
      moreKeys = Seq("id"))
    t.commitWithFeed(Seq((1L, 2L, "B", "upsert"),
      (2L, 1L, null.asInstanceOf[String], "delete"))
      .toDF("d", "id", "v", "op"))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("d"), col("id"), col("change_type"),
          col("before.v"), col("after.v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.get(3), r.get(4))).sortBy(x => (x._1, x._2)).toSeq
    val expected = Seq((1L, 2L, "update", "b", "B"),
      (2L, 1L, "delete", "c", null))

    // facade diff, persisted feed, and the CDF relation all agree —
    // and the untouched sibling (1,1) never appears
    assert(rows(t.changeFeed(-1L, 0L)) === expected)
    val rel = spark.read.format("graft").option("changeFeed", "true")
      .load(root)
    assert(rel.schema.fieldNames.take(2).toSeq === Seq("d", "id"))
    assert(rows(rel) === expected)
  }

  test("CDF schema follows table evolution; pre-evolution feeds read new fields as null") {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft-cdf-evo").toString
    val t = GraftTable.create(
      spark.range(0, 20).select(col("id"), (col("id") * 2).as("v")),
      root, "id", numFiles = 1)
    t.commitWithFeed(Seq((3L, 33L, "upsert")).toDF("id", "v", "op"))
    // schema evolution: the batch carries a NEW column `tag`
    t.commitWithFeed(Seq((4L, 44L, "hot", "upsert"))
      .toDF("id", "v", "tag", "op"))

    val feed = spark.read.format("graft").option("changeFeed", "true")
      .load(root)
      .select(col("id"), col("_commit_version").as("cv"),
        col("after.v"), col("after.tag"))
      .orderBy("cv")
    assert(feed.schema("tag").dataType ===
      org.apache.spark.sql.types.StringType)
    val got = feed.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.get(3))).toSeq
    // v0's feed predates `tag`: the evolved read fills it with null
    assert(got === Seq((3L, 0L, 33L, null), (4L, 1L, 44L, "hot")))
  }

  test("restart delivers commits made while the stream was down (head-started)") {
    val root = Files.createTempDirectory("graft-cdf-restart").toString
    val t = mkTable(root)
    val cp = Files.createTempDirectory("graft-cdf-rscp").toString
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    def start() = spark.readStream.format("graft")
      .option("changeFeed", "true").load(root)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        b.select(col("id"), col("_commit_version")).collect()
          .foreach(r => seen.add((r.getLong(0), r.getLong(1)))): Unit
      }
      .option("checkpointLocation", cp).start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(seen.isEmpty) // head start: no history

    // commits land while no stream is running
    val s = spark; import s.implicits._
    t.commitWithFeed(Seq((30L, 1.0, "upsert")).toDF("id", "v", "op"))
    t.commitWithFeed(Seq((31L, 2.0, "upsert")).toDF("id", "v", "op"))

    // the restarted stream must deliver BOTH missed versions — a
    // freshly-computed head floor would silently skip past them
    val q2 = start()
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq.sorted === Seq((30L, 3L), (31L, 4L)))
    } finally q2.stop()
  }

  test("streaming CDF without startingVersion begins at the current head") {
    val root = Files.createTempDirectory("graft-cdf-h").toString
    val t = mkTable(root)
    val q = spark.readStream.format("graft").option("changeFeed", "true")
      .load(root)
      .writeStream.format("memory").queryName("cdf_head")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-cdf-hcp").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_head").isEmpty) // history not re-emitted
      val s = spark; import s.implicits._
      t.commitWithFeed(Seq((12L, 1.0, "upsert")).toDF("id", "v", "op"))
      q.processAllAvailable()
      assert(flat(spark.table("cdf_head")) ===
        Seq((12L, "update", 24.0, 1.0, 3L)))
    } finally q.stop()
  }
}
