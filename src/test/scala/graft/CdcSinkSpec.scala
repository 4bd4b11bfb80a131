package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{MutableParquetTable, ParquetTable}
import graft.streaming.CdcMergeSink

/** Streaming CDC apply: micro-batches merged through the CoW path with
  * per-batch snapshot commits and failure-replay idempotency. */
class CdcSinkSpec extends SparkSpec {

  // base table: 100 rows, key-sorted into 4 files
  private def mkBase(root: String): Unit = {
    val base = spark.range(0, 100)
      .select(col("id"), (col("id") * 2).cast("double").as("v"))
    ParquetTable.writeSorted(base, s"$root/base", "id", 4)
  }

  test("two micro-batches apply through CoW merges; final state exact") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    mkBase(root)

    val in = MemoryStream[(Long, Double, String, Long)]
    val mut = in.toDF().toDF("id", "v", "op", "seq")
    val q = CdcMergeSink.start(mut, root, "id", seqCol = Some("seq"))
    try {
      // batch 0: update 5, delete 7, insert 150; key 9 gets two ops —
      // the later seq (delete) must win
      in.addData((5L, 555.0, "upsert", 1L), (7L, 0.0, "delete", 2L),
        (150L, 300.0, "upsert", 3L), (9L, 9.9, "upsert", 4L),
        (9L, 0.0, "delete", 5L))
      q.processAllAvailable()
      val v0 = CdcMergeSink.latestSnapshot(root)
      assert(v0.endsWith("/v0") && MutableParquetTable.isCommitted(v0))

      // batch 1: resurrect 7, delete 5 — applies on TOP of v0
      in.addData((7L, 77.0, "upsert", 6L), (5L, 0.0, "delete", 7L))
      q.processAllAvailable()
      assert(CdcMergeSink.latestSnapshot(root).endsWith("/v1"))
    } finally q.stop()

    val got = MutableParquetTable
      .readCommitted(spark, CdcMergeSink.latestSnapshot(root))
      .orderBy("id").as[(Long, Double)].collect().toSeq
    val expected = (0L until 100L).filterNot(Set(5L, 9L))
      .map(i => (i, if (i == 7) 77.0 else i * 2.0)) :+ (150L, 300.0)
    assert(got === expected.sortBy(_._1))

    // time travel: as-of batch 0 still shows the pre-batch-1 state
    assert(CdcMergeSink.versions(root) === Seq(0L, 1L))
    val v0state = CdcMergeSink.readAsOf(spark, root, 0L)
    assert(v0state.where(col("id") === 5L).head().getDouble(1) === 555.0)
    assert(v0state.where(col("id") === 7L).isEmpty) // deleted in batch 0
    // as-of a pre-history batch id: the base snapshot
    assert(CdcMergeSink.readAsOf(spark, root, -1L).count() === 100)

    // change feed base -> v0: exactly batch 0's collapsed effect
    val feed0 = CdcMergeSink.changeFeed(spark, root, -1L, 0L, "id")
      .select(col("id"), col("change_type")).as[(Long, String)]
      .collect().sortBy(_._1)
    assert(feed0 === Array((5L, "update"), (7L, "delete"), (9L, "delete"),
      (150L, "insert")))
    // before/after images carry the values
    val u5 = CdcMergeSink.changeFeed(spark, root, -1L, 0L, "id")
      .where(col("id") === 5L).head()
    assert(u5.getStruct(2).getDouble(0) === 10.0)  // before: 5*2
    assert(u5.getStruct(3).getDouble(0) === 555.0) // after: batch 0 upsert

    // change feed v0 -> v1: resurrect 7, delete 5
    val feed1 = CdcMergeSink.changeFeed(spark, root, 0L, 1L, "id")
      .select(col("id"), col("change_type")).as[(Long, String)]
      .collect().sortBy(_._1)
    assert(feed1 === Array((5L, "delete"), (7L, "insert")))

    // delta pruning: files shared between the two snapshots (hard-linked
    // passthroughs) are never opened by the feed
    val shared = MutableParquetTable.manifestFileNames(s"$root/v0").get.toSet
      .intersect(MutableParquetTable.manifestFileNames(s"$root/v1").get.toSet)
    assert(shared.nonEmpty, "fixture should share passthrough files")
    val feedFiles = CdcMergeSink.changeFeed(spark, root, 0L, 1L, "id")
      .inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(feedFiles.intersect(shared).isEmpty,
      s"feed must not read shared files: $feedFiles vs $shared")

    // identical endpoints -> empty feed (with the right schema)
    assert(CdcMergeSink.changeFeed(spark, root, 1L, 1L, "id").isEmpty)

    // retention: vacuum to the newest version only
    assert(CdcMergeSink.vacuum(root, keepLast = 1) === Seq(0L))
    assert(CdcMergeSink.versions(root) === Seq(1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/v0")))
    // latest state intact; below-horizon as-of degrades to base
    assert(MutableParquetTable
      .readCommitted(spark, CdcMergeSink.latestSnapshot(root))
      .orderBy("id").as[(Long, Double)].collect().toSeq === expected.sortBy(_._1))
    assert(CdcMergeSink.readAsOf(spark, root, 0L).count() === 100)
  }

  test("property: delta-pruned feed == brute-force snapshot diff under random batches") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cdcp").toString
    mkBase(root)
    val rnd = new scala.util.Random(11)
    // 3 random batches: updates, deletes, inserts over a 150-key space
    for (b <- 0 until 3) {
      val mutations = (0 until 30).map { _ =>
        val k = rnd.nextInt(150).toLong
        if (rnd.nextBoolean()) (k, rnd.nextInt(1000).toDouble, "upsert")
        else (k, 0.0, "delete")
      }.groupBy(_._1).map(_._2.head).toSeq // one op per key per batch
      OptimisticCommit.commit(spark, root, "id",
        mutations.toDF("id", "v", "op"))
    }
    for ((from, to) <- Seq((-1L, 0L), (0L, 1L), (1L, 2L), (-1L, 2L), (0L, 2L))) {
      val pruned = CdcMergeSink.changeFeed(spark, root, from, to, "id")
        .orderBy("id").collect().map(_.toString).toSeq
      // brute force: same rowDiff but over the FULL snapshots, no pruning
      val brute = CdcMergeSink.rowDiff(
        CdcMergeSink.readAsOf(spark, root, from),
        CdcMergeSink.readAsOf(spark, root, to), "id")
        .orderBy("id").collect().map(_.toString).toSeq
      assert(pruned === brute, s"feed($from->$to) diverged from brute diff")
    }
  }

  test("replaying a committed batch is a no-op; a crashed half-apply is rebuilt") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cdc2").toString
    mkBase(root)
    val batch = Seq((3L, 33.0, "upsert")).toDF("id", "v", "op")

    OptimisticCommit.commit(spark, root, "id", batch,
      txnMarker = Some(("q", 0L)))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/v0", "_manifest.json"))
    // replay with DIFFERENT data: committed snapshot must win untouched
    OptimisticCommit.commit(spark, root, "id",
      Seq((3L, -1.0, "upsert")).toDF("id", "v", "op"),
      txnMarker = Some(("q", 0L)))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/v0", "_manifest.json")) === manifest)
    assert(CdcMergeSink.versions(root) === Seq(0L))

    // crash between stage and publish: the dead writer's staged dir
    // outlives it as `.tx-` debris, and no version slot is touched
    def txDirs(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try l.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".tx-")).toList
      finally l.close()
    }
    val next = Seq((4L, 44.0, "upsert")).toDF("id", "v", "op")
    intercept[IllegalStateException] {
      OptimisticCommit.commit(spark, root, "id", next,
        txnMarker = Some(("q", 1L)),
        testHookAfterStage = () => {
          val staged = txDirs().head
          val dead = staged.resolveSibling(".tx-crashed")
          java.nio.file.Files.createDirectories(dead)
          val l = java.nio.file.Files.list(staged)
          try l.forEach(f => java.nio.file.Files.copy(f,
            dead.resolve(f.getFileName)))
          finally l.close()
          throw new IllegalStateException("writer crashed before publish")
        })
    }
    assert(txDirs().map(_.getFileName.toString) === Seq(".tx-crashed"))
    assert(CdcMergeSink.versions(root) === Seq(0L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/v1")))
    // the replay of the crashed epoch lands
    OptimisticCommit.commit(spark, root, "id", next,
      txnMarker = Some(("q", 1L)))
    assert(MutableParquetTable.isCommitted(s"$root/v1"))
    val v1 = MutableParquetTable.readCommitted(spark, s"$root/v1")
    assert(v1.where(col("id") === 4L).head().getDouble(1) === 44.0)
    assert(v1.where(col("id") === 3L).head().getDouble(1) === 33.0)
    assert(v1.count() === 100)
    assert(CdcMergeSink.lastTxnEpoch(root, "q") === Some(1L))
  }

  test("a stream on a table with a prior commit applies every batch") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cdc4").toString
    mkBase(root)
    val t = GraftTable(spark, root, "id")
    t.commit(Seq((1L, 11.0, "upsert")).toDF("id", "v", "op"))

    val in = MemoryStream[(Long, Double, String)]
    val q = t.stream(in.toDF().toDF("id", "v", "op"))
    try {
      in.addData((2L, 222.0, "upsert"))
      q.processAllAvailable()
      in.addData((3L, 333.0, "upsert"))
      q.processAllAvailable()
    } finally q.stop()

    assert(t.versions === Seq(0L, 1L, 2L))
    val got = t.read().where(col("id") < 4L).orderBy("id")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((0L, 0.0), (1L, 11.0), (2L, 222.0), (3L, 333.0)))
  }

  test("a sink epoch that races another writer's commit lands after it") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cdc5").toString
    mkBase(root)
    val t = GraftTable(spark, root, "id")

    val in = MemoryStream[(Long, Double, String)]
    val q = CdcMergeSink.start(in.toDF().toDF("id", "v", "op"), root, "id")
    try {
      in.addData((2L, 222.0, "upsert"))
      q.processAllAvailable()
      // another writer claims the next version between the sink's epochs
      t.commit(Seq((5L, 55.0, "upsert")).toDF("id", "v", "op"))
      in.addData((3L, 333.0, "upsert"))
      q.processAllAvailable()
    } finally q.stop()

    assert(t.versions === Seq(0L, 1L, 2L), "versions stay dense")
    val epochs = t.versions.map(v =>
      MutableParquetTable.manifestTxn(s"$root/v$v").map(_._2))
    assert(epochs === Seq(Some(0L), None, Some(1L)))
    val got = t.read().where(col("id").isin(2L, 3L, 5L)).orderBy("id")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((2L, 222.0), (3L, 333.0), (5L, 55.0)))
  }

  test("a replayed foreachBatch epoch under the same query id starts no Spark job") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-cdc6").toString
    mkBase(root)
    val t = GraftTable(spark, root, "id")
    t.commit(Seq((1L, 11.0, "upsert")).toDF("id", "v", "op"))
    val cp = java.nio.file.Files.createTempDirectory("graft-cdc6-cp").toString
    val in = MemoryStream[(Long, Double, String)]
    val mut = in.toDF().toDF("id", "v", "op")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = CdcMergeSink.start(mut, root, "id", checkpointDir = Some(cp),
        afterBatch = id => seen.add(id))
      try q.processAllAvailable() finally q.stop()
    }
    in.addData((2L, 222.0, "upsert"))
    run()
    assert(t.versions === Seq(0L, 1L))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/v1", "_manifest.json"))
    // a failure after the commit but before the engine logged the batch
    // done: the restarted query re-runs batch 0 under the same query id
    Seq("0", ".0.crc").foreach(f => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(cp, "commits", f)))
    val (_, jobs) = JobLog.recording(spark)(run())
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq === Seq(0L, 0L), "batch 0 must be replayed")
    assert(jobs.isEmpty, s"the replay started jobs: ${jobs.flatMap(_.names)}")
    assert(t.versions === Seq(0L, 1L))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/v1", "_manifest.json")) === manifest)
    assert(t.read().where(col("id") === 2L).head().getDouble(1) === 222.0)
  }

  test("empty micro-batch leaves the snapshot chain unchanged") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cdc3").toString
    mkBase(root)
    OptimisticCommit.commit(spark, root, "id",
      Seq.empty[(Long, Double, String)].toDF("id", "v", "op"))
    assert(CdcMergeSink.latestSnapshot(root).endsWith("/base"))
  }
}
