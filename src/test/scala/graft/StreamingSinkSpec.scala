package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{GraftFileCommitted, GraftStreamingWrite, MutableParquetTable}
import graft.streaming.CdcMergeSink

/** V2 streaming sink (`writeStream.format("graft")`): per-epoch CoW
  * commits with manifest txn markers — exactly-once without a sink log. */
class StreamingSinkSpec extends SparkSpec {

  private def mkTable(root: String): GraftTable = {
    val base = spark.range(0, 100)
      .select(col("id"), (col("id") * 2).cast("double").as("v"))
    GraftTable.create(base, root, "id", numFiles = 4)
  }

  test("append stream upserts on the key; txn markers recorded; staging cleaned") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val root = Files.createTempDirectory("graft-ssink").toString
    mkTable(root)

    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("id", "v").writeStream
      .format("graft")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ssink-cp").toString)
      .start(root)
    try {
      in.addData((5L, 555.0), (150L, 300.0))
      q.processAllAvailable()
      in.addData((6L, 666.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = GraftTable(spark, root, "id").read()
      .orderBy("id").as[(Long, Double)].collect().toSeq
    val expected = (0L until 100L).map { i =>
      (i, if (i == 5) 555.0 else if (i == 6) 666.0 else i * 2.0)
    } :+ (150L, 300.0)
    assert(got === expected)

    // each non-empty epoch committed one version stamped with its epoch
    val vs = CdcMergeSink.versions(root)
    assert(vs.size === 2)
    val txns = vs.map(v => MutableParquetTable.manifestTxn(s"$root/v$v"))
    assert(txns.forall(_.isDefined))
    assert(txns.flatMap(_.map(_._2)) === Seq(0L, 1L))
    // one writer id across epochs, and lastTxnEpoch sees the newest
    val app = txns.head.get._1
    assert(txns.forall(_.get._1 === app))
    assert(CdcMergeSink.lastTxnEpoch(root, app) === Some(1L))
    assert(CdcMergeSink.lastTxnEpoch(root, "other-app") === None)

    // epoch staging is cleaned up after commit
    val sl = Files.list(Paths.get(root))
    val staging = try {
      import scala.jdk.CollectionConverters._
      sl.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".staging-stream-")).toList
    } finally sl.close()
    assert(staging.flatMap { d =>
      val l = Files.list(Paths.get(root, d))
      try { import scala.jdk.CollectionConverters._
        l.iterator().asScala.toList }
      finally l.close()
    }.isEmpty)
  }

  test("CDC stream: opColumn + seqColumn collapse within an epoch") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val root = Files.createTempDirectory("graft-ssink-cdc").toString
    mkTable(root)

    val in = MemoryStream[(Long, Double, String, Long)]
    val q = in.toDF().toDF("id", "v", "op", "seq").writeStream
      .format("graft")
      .option("seqColumn", "seq")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ssink-cdc-cp").toString)
      .start(root)
    try {
      // key 9 gets upsert then delete in one epoch — later seq wins
      in.addData((5L, 555.0, "upsert", 1L), (7L, 0.0, "delete", 2L),
        (9L, 9.9, "upsert", 3L), (9L, 0.0, "delete", 4L))
      q.processAllAvailable()
    } finally q.stop()

    val got = GraftTable(spark, root, "id").read()
      .orderBy("id").as[(Long, Double)].collect().toSeq
    val expected = (0L until 100L).filterNot(Set(7L, 9L))
      .map(i => (i, if (i == 5) 555.0 else i * 2.0))
    assert(got === expected)
  }

  test("epoch replay is exactly-once: a committed epoch re-offered is skipped") {
    val s = spark
    val root = Files.createTempDirectory("graft-ssink-replay").toString
    mkTable(root)
    val schema = GraftTable(spark, root, "id").read().schema

    // stage one epoch's worth of rows as the executors would
    def stage(n: Long): String = {
      val dir = Files.createTempDirectory("graft-ssink-batch").toString
      spark.range(n, n + 1)
        .select(col("id"), lit(999.0).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val l = Files.list(Paths.get(dir))
      try { import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toList.head }
      finally l.close()
    }

    val sw = new GraftStreamingWrite(root, "id", schema,
      new SerializableConfiguration(s.sessionState.newHadoopConf()),
      replace = false, queryId = "replay-app", opCol = "op", seqCol = None)
    sw.commit(0L, Array(GraftFileCommitted(stage(200L))))
    assert(CdcMergeSink.versions(root).size === 1)
    assert(CdcMergeSink.lastTxnEpoch(root, "replay-app") === Some(0L))

    // failure replay: the engine re-offers epoch 0 — must be a no-op
    // that starts no Spark job
    val replayed = Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
      GraftFileCommitted(stage(201L)))
    val (_, jobs) = JobLog.recording(spark)(sw.commit(0L, replayed))
    assert(jobs.isEmpty, s"the replay started jobs: ${jobs.flatMap(_.names)}")
    assert(CdcMergeSink.versions(root).size === 1)
    assert(GraftTable(spark, root, "id").read()
      .where(col("id") === 201L).isEmpty)

    // the next epoch commits normally
    sw.commit(1L, Array(GraftFileCommitted(stage(201L))))
    assert(CdcMergeSink.versions(root).size === 2)
    assert(CdcMergeSink.lastTxnEpoch(root, "replay-app") === Some(1L))
  }

  test("writeStream.toTable streams into a catalog table by name") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val w = Files.createTempDirectory("graft-ssink-wh").toString
    spark.conf.set("spark.sql.catalog.gsink",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsink.root", w)
    spark.sql("""CREATE TABLE gsink.ns.st (id BIGINT, v DOUBLE)
                 USING graft TBLPROPERTIES ('key' = 'id')""")

    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ssink-whcp").toString)
      .toTable("gsink.ns.st")
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      in.addData((2L, 22.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(spark.sql("SELECT * FROM gsink.ns.st ORDER BY id")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 1.0), (2L, 22.0)))
    // the sink's epochs are visible in the history metadata table
    assert(spark.sql(
      "SELECT count(*) FROM gsink.ns.st.history WHERE txn_app IS NOT NULL")
      .head().getLong(0) === 2L)
  }

  test("update-mode aggregation streams upserted group rows per epoch") {
    val s = spark; import s.implicits._
    implicit val ctx = s.sqlContext
    val root = Files.createTempDirectory("graft-ssink-agg").toString
    GraftTable.create(
      Seq(("seed", 0L)).toDF("word", "cnt"), root, "word", numFiles = 1)

    val in = MemoryStream[String]
    val counts = in.toDF().toDF("word").groupBy("word")
      .agg(count(lit(1)).as("cnt"))
    val q = counts.writeStream
      .outputMode("update")
      .format("graft")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ssink-agg-cp").toString)
      .start(root)
    try {
      in.addData("a", "b", "a")
      q.processAllAvailable()
      in.addData("a", "c")
      q.processAllAvailable()
    } finally q.stop()

    val got = GraftTable(spark, root, "word").read()
      .orderBy("word").as[(String, Long)].collect().toSeq
    assert(got === Seq(("a", 3L), ("b", 1L), ("c", 1L), ("seed", 0L)))
  }

  test("ordered distribution is declared for batch writes only, never streaming epochs") {
    // a streaming consumer commits through the merge/replace protocol —
    // the ordered declaration would range-partition + sort EVERY
    // micro-batch for nothing (and orderedEmptyInsert would stay true
    // for the stream's whole lifetime). V2Writes resolves toStreaming
    // before consulting the distribution, so the flags clear in time.
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("v", org.apache.spark.sql.types.LongType)
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val w = new graft.sources.GraftWrite("/tmp/none", "k", schema, conf,
      replace = true, orderedReplace = true)
    assert(w.requiredOrdering().nonEmpty, "batch INSERT OVERWRITE declares")
    assert(w.requiredDistribution().isInstanceOf[
      org.apache.spark.sql.connector.distributions.OrderedDistribution])
    w.toStreaming
    assert(w.requiredOrdering().isEmpty,
      "a streaming consumer must not inherit the ordered declaration")
    assert(!w.requiredDistribution().isInstanceOf[
      org.apache.spark.sql.connector.distributions.OrderedDistribution])
    assert(w.advisoryPartitionSizeInBytes() === 0L)
  }
}
