package graftbench

import java.nio.file.{Files, Path}

/** Sizes of one run. `full` is the measured configuration; `tiny` is the
  * self-test's smoke scale. */
final case class Scale(rows: Long, files: Int, docs: Int, batchDocs: Int,
                       vectors: Int)

object Scale {
  val full = Scale(rows = 60000L, files = 32, docs = 600, batchDocs = 60,
    vectors = 2000)
  val tiny = Scale(rows = 6000L, files = 8, docs = 300, batchDocs = 20,
    vectors = 500)
}

/** One benchmark workload: a set-up, and a fixed op sequence (one cycle)
  * that the measured loop repeats until its time is up. */
trait Workload {
  def name: String
  /** Generate the inputs and seed the table or indexes under `dir`. */
  def setup(dir: Path): Unit
  /** One cycle of the op mix, as separately runnable ops. Every measured
    * run completes at least one cycle: it runs every op kind and every
    * batch kind, and several reads or searches of each type. */
  def cycle: Seq[Harness => Unit]
  /** Queue the end-of-run correctness checks (run untimed). */
  def finish(h: Harness): Unit
  /** Directories whose storage the workload's writes grow. */
  def storageRoots: Seq[String]
  /** Graft tables whose latest manifests hold the workload's live data. */
  def tables: Seq[String]
  /** Bytes of the batches written in the measured loop, as Parquet. */
  def batchBytes: Long
  /** Per-layer metrics of this workload (see [[Workload.layerNames]]). */
  def layerMetrics(t: Trace): Map[String, Double]
}

object Workload {
  /** Op types with their own spans and Spark attribution. */
  val spanOps: Seq[String] = Seq("commit", "read.point", "read.range",
    "read.scan", "read.asof", "read.feed", "dedup.ingest", "bm25.ingest",
    "search.bm25", "search.cosine")

  /** Per-layer metrics beyond spans and Spark counters, with units. Every
    * run prints all of them; a layer a workload bypasses reads 0. */
  val layerNames: Seq[(String, String)] =
    Seq("ranges", "route", "link", "rewrite", "manifest")
      .map(p => (s"merge.${p}_ms", "ms")) ++ Seq(
      ("merge.files_rewritten", "count"), ("merge.files_linked", "count"),
      ("merge.files_referenced", "count"), ("merge.files_copied", "count"),
      ("merge.bytes_rewritten_input", "bytes"), ("merge.bytes_written", "bytes"),
      ("merge.cow_useful_ratio", "ratio"), ("occ.attempts", "count"),
      ("occ.rebases", "count"), ("occ.protocol_ms", "ms"),
      ("scan.files_planned", "count"), ("scan.files_total", "count"),
      ("scan.prune_ratio", "ratio"),
      ("dedup.docs", "count"), ("dedup.pairs", "count"),
      ("bm25.docs", "count"), ("search.queries", "count"))

  def freshDir(p: Path): Path = { Storage.deleteTree(p); Files.createDirectories(p) }
}
