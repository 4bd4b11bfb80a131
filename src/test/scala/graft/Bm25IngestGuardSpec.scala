package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusPrep

/** Pins the Spark work of a BM25 index ingest to its two table commits:
  * the corpus-stats view over `doclen` is refreshed by the query that
  * reads it, so no ingest job may come from the view's maintenance
  * (AggView) or the change feed it consumes. */
class Bm25IngestGuardSpec extends SparkSpec {
  import spark.implicits._

  private def viewWork(j: JobLog.Job): Boolean =
    j.calledFrom("graft.streaming.AggView") ||
      j.calledFrom("graft.streaming.CdcMergeSink$.changeFeed")

  test("an ingest runs no AggView or change-feed job; the statsFromView probe does") {
    val corpus = Seq(
      1L -> "data data merge other words here",
      2L -> "merge window data something else",
      3L -> "window window merge data data",
      4L -> "data merge window tail").toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25guard").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root, corpus.where(col("doc_id") <= 2),
      "text", "doc_id")

    val (_, ingest) = JobLog.recording(spark)(CorpusPrep.bm25IndexIngest(
      root, corpus.where(col("doc_id") > 2), "text", "doc_id"))
    assert(ingest.nonEmpty, "the ingest's commits ran no job")
    assert(!ingest.exists(viewWork),
      s"view maintenance ran inside the ingest: ${ingest.filter(viewWork)}")

    // the detector sees view work where it does happen: the reader's
    // catch-up refresh
    val (_, probe) = JobLog.recording(spark)(CorpusPrep.bm25TopKIndexed(
      spark, root, Seq("data", "window"), 5, statsFromView = true).collect())
    assert(probe.exists(viewWork), "the stats-view refresh ran no job")
  }
}
