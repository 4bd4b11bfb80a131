package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusPrep, Dedup, Similarity}

/** `llm_ingest`: incremental corpus ingest plus search. A seeded corpus
  * (six replicas of each base document, each with its own marker token)
  * seeds a MinHash dedup index and a BM25 index. Each cycle ingests two
  * batches of perturbed near-duplicates under fresh ids into both indexes,
  * then runs BM25 queries against the index and brute-force cosine top-k
  * queries over a seeded vector set. */
final class LlmIngest(spark: SparkSession, seed: Long, scale: Scale) extends Workload {
  val name = "llm_ingest"
  private val Ingest = Kind("ingest", primary = false, write = true, None)
  private val Bm25 = Kind("search.bm25", primary = true, write = false, Some("search.bm25"))
  private val Cosine = Kind("search.cosine", primary = true, write = false, Some("search.cosine"))

  private val Vocab = 4000
  private val Replicas = 6
  private val TopK = 10
  private val Dim = 32
  private val CosineQueries = 4
  private val salt = seed * 1000003L + 7L

  private var dir: Path = _
  private var idxRoot, bm25Root, corpusPath, vectorsPath: String = _
  private var rng: java.util.SplittableRandom = _
  private var batchSeq = 0
  private var pending = Iterator.empty[(Int, String)]
  /** Ingested batches in order: (batch number, parquet path). */
  private val ingested = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
  private val pairsByBatch = scala.collection.mutable.ArrayBuffer.empty[(OpRecord, Int, Set[(Long, Long)])]
  private val cosineOps = scala.collection.mutable.ArrayBuffer.empty[(OpRecord, Seq[Long], Map[Long, Seq[Long]])]
  private var measuredBatchBytes = 0L

  def storageRoots: Seq[String] = Seq(idxRoot, bm25Root)
  def tables: Seq[String] = Seq(idxRoot, s"$bm25Root/postings", s"$bm25Root/doclen")
  def batchBytes: Long = measuredBatchBytes

  private def nBase: Long = scale.docs / Replicas

  /** Token `p` of base document `base`: Zipf-like draw from the vocabulary. */
  private def token(base: Column, p: Column): Column =
    concat(lit("w"), floor(lit(Vocab.toDouble) * pow(
      pmod(xxhash64(base, p, lit(salt)), lit(1000000L)).cast("double") / 1e6,
      2.0)).cast("long").cast("string"))

  private def length(base: Column): Column =
    (pmod(xxhash64(base, lit(salt + 1)), lit(40L)) + 20).cast("int")

  private def corpus: DataFrame =
    spark.range(0L, nBase * Replicas).select(
      col("id").as("doc_id"), expr(s"id div $Replicas").as("base"),
      pmod(col("id"), lit(Replicas.toLong)).as("r"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), length(col("base")) - 1), p => token(col("base"), p)),
        concat(lit("m"), col("r").cast("string"))).as("text"))

  /** Batch `b`: near-duplicates of random base documents under fresh ids,
    * about one token in twenty replaced. */
  private def batch(b: Int): DataFrame = {
    val first = 1000000000L + b.toLong * 1000000L
    spark.range(first, first + scale.batchDocs).select(
      col("id").as("doc_id"),
      pmod(xxhash64(col("id"), lit(salt + 2)), lit(nBase)).as("base"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(0), length(col("base")) - 1), p =>
          when(pmod(xxhash64(col("doc_id"), p, lit(salt + 3)), lit(20L)) === 0,
            concat(lit("w"), pmod(xxhash64(col("doc_id"), p, lit(salt + 4)),
              lit(Vocab.toLong)).cast("string")))
            .otherwise(token(col("base"), p)))).as("text"))
  }

  private def vectors: DataFrame = {
    val baseN = math.max(1, scale.vectors / 10).toLong
    def u(c: Column, j: Column, s: Long): Column =
      (pmod(xxhash64(c, j, lit(s)), lit(2000001L)) - 1000000L).cast("double") / 1e6
    spark.range(0L, scale.vectors.toLong).select(col("id"),
      pmod(col("id"), lit(baseN)).as("base"))
      .select(col("id"), transform(sequence(lit(0), lit(Dim - 1)), j =>
        (u(col("base"), j, salt + 5) + u(col("id"), j, salt + 6) * 0.05)
          .cast("float")).as("vec"))
  }

  /** Materialize the next four batches as Parquet in one job. */
  private def refill(): Unit = if (!pending.hasNext) {
    val first = batchSeq
    batchSeq += 4
    val out = dir.resolve(s"batches-$first").toString
    (first until first + 4).map(b => batch(b).withColumn("b", lit(b)))
      .reduce(_ unionByName _).repartition(col("b"))
      .write.partitionBy("b").parquet(out)
    pending = (first until first + 4).map(b => (b, s"$out/b=$b")).iterator
  }

  def setup(d: Path): Unit = {
    dir = d
    idxRoot = d.resolve("dedup-index").toString
    bm25Root = d.resolve("bm25-index").toString
    corpusPath = d.resolve("corpus").toString
    vectorsPath = d.resolve("vectors").toString
    rng = new java.util.SplittableRandom(seed * 131L + 3L)
    batchSeq = 0
    pending = Iterator.empty
    ingested.clear(); pairsByBatch.clear(); cosineOps.clear()
    corpus.repartition(4).write.parquet(corpusPath)
    vectors.repartition(4).write.parquet(vectorsPath)
    val docs = spark.read.parquet(corpusPath)
    Dedup.dedupIncremental(idxRoot, docs, "text", "doc_id", native = true,
      emitPairs = false)
    CorpusPrep.bm25SeedIndex(bm25Root, docs, "text", "doc_id")
    measuredBatchBytes = 0L
  }

  private def docsAt(n: Int): DataFrame =
    ingested.take(n).map(b => spark.read.parquet(b._2))
      .foldLeft(spark.read.parquet(corpusPath))(_ unionByName _)

  private val ingest: Harness => Unit = h => {
    refill()
    val (b, path) = pending.next()
    val docs = spark.read.parquet(path)
    val bytes = Storage.dirBytes(Seq(path))
    val (rec, res) = h.run(Ingest, scale.batchDocs.toLong) {
      val pairs = h.trace.span("dedup.ingest") {
        Dedup.dedupIncremental(idxRoot, docs, "text", "doc_id", native = true)
          .pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      h.trace.span("bm25.ingest") {
        CorpusPrep.bm25IndexIngest(bm25Root, docs, "text", "doc_id")
      }
      pairs
    }
    res.foreach { pairs =>
      ingested += ((b, path))
      pairsByBatch += ((rec, b, pairs))
      if (h.measuring) measuredBatchBytes += bytes
      h.trace.add("dedup.docs", scale.batchDocs.toDouble)
      h.trace.add("dedup.pairs", pairs.size.toDouble)
      h.trace.add("bm25.docs", scale.batchDocs.toDouble)
    }
  }

  private val bm25: Harness => Unit = h => {
    val terms = Seq.fill(2)(s"w${20 + rng.nextInt(400)}")
    val n = ingested.size
    val (rec, res) = h.run(Bm25) {
      CorpusPrep.bm25TopKIndexed(spark, bm25Root, terms, TopK).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    h.trace.add("search.queries", 1.0)
    res.foreach(got => h.checkLater(rec) {
      val want = CorpusPrep.bm25TopK(docsAt(n), "text", "doc_id", terms, TopK)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      if (got == want) None else Some(s"bm25 $terms: got $got want $want")
    })
  }

  private val cosine: Harness => Unit = h => {
    val ids = Seq.fill(CosineQueries)(rng.nextLong(scale.vectors.toLong))
    val (rec, res) = h.run(Cosine) {
      val c = spark.read.parquet(vectorsPath)
      topIds(Similarity.bruteForceTopK(c, c.where(col("id").isin(ids: _*)),
        "vec", "id", TopK, native = true))
    }
    h.trace.add("search.queries", CosineQueries.toDouble)
    res.foreach(got => cosineOps += ((rec, ids, got)))
  }

  private def topIds(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("query_id", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2) }

  /** Two ingests, then four searches of each kind; the first search
    * after an ingest runs about 40% slower than the rest. */
  def cycle: Seq[Harness => Unit] =
    Seq(ingest, ingest) ++ Seq.fill(4)(Seq(bm25, cosine)).flatten

  /** Checks every ingest and cosine query, warm-up ones included.
    * Dedup: every batch's incremental pairs must equal the batch LSH pairs
    * over the final corpus that touch that batch and a document ingested
    * no later (pairs are a per-pair property, so restricting the final
    * batch result to the corpus as of the ingest is exact). Cosine: the
    * native kernel's top-k ids must equal the plain-expression ones. */
  def finish(h: Harness): Unit = {
    if (pairsByBatch.nonEmpty) {
      lazy val all = Dedup.minHashPairs(docsAt(ingested.size), "text", "doc_id")
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      def batchOf(id: Long): Int =
        if (id < 1000000000L) -1 else ((id - 1000000000L) / 1000000L).toInt
      pairsByBatch.foreach { case (rec, b, got) =>
        h.checkLater(rec) {
          val want = all.filter { case (x, y) =>
            val (bx, by) = (batchOf(x), batchOf(y))
            (bx == b || by == b) && bx <= b && by <= b }.toSet
          if (got == want) None
          else Some(s"batch $b: ${(got -- want).size} extra, ${(want -- got).size} missing pairs")
        }
      }
    }
    if (cosineOps.nonEmpty) {
      lazy val plain = {
        val c = spark.read.parquet(vectorsPath)
        topIds(Similarity.bruteForceTopK(c,
          c.where(col("id").isin(cosineOps.flatMap(_._2).distinct.toSeq: _*)),
          "vec", "id", TopK))
      }
      cosineOps.foreach { case (rec, ids, got) =>
        h.checkLater(rec) {
          val want = ids.distinct.map(q => q -> plain(q)).toMap
          if (got == want) None else Some(s"cosine ids $ids differ from plain expressions")
        }
      }
    }
  }

  def layerMetrics(t: Trace): Map[String, Double] =
    Seq("dedup.docs", "dedup.pairs", "bm25.docs", "search.queries")
      .map(n => n -> t.mean(n)).toMap
}
