package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Udx, VectorFunctions}
import graft.functions.VectorFunctions._

/** Approximate / exact nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * score every corpus row, per-query top-k via a map-side bounded heap.
  * Exact, one corpus scan, no shuffle of the corpus itself; this is the
  * right plan up to any corpus size as long as the query set is
  * broadcastable.
  *
  * Scale path: LSH-bucketed search — corpus pre-bucketed by a
  * random-hyperplane signature; a query probes only its own (multi-probe:
  * nearby) buckets, so per-query work drops from O(corpus) to
  * O(corpus / 2^bits). Recall is tunable via bits/probes; candidates are
  * re-scored exactly.
  */
object Similarity {

  /** Cosine column: HOF formulation by default; the fused native Catalyst
    * expression ([[graft.plans.CosineSimilarity]]) when `native` — callers
    * must have registered it on the session first. */
  private def cosineCol(a: Column, b: Column, native: Boolean) =
    if (native) call_function(graft.plans.CosineSimilarity.name, a, b)
    else cosine(a, b)

  /** Final ranking stage shared by every search variant (brute force,
    * LSH, IVF, PQ and their reranks): per-query top-k of the scored
    * candidates via the native bounded top-k aggregate ([[Udx.topK]],
    * [[graft.plans.TopKAggregate]]) instead of a `row_number` window.
    *
    * Why not a window: `Window.partitionBy(query_id)` shuffles EVERY scored
    * candidate into at most |queries| tasks — with 5 queries over a 100×
    * corpus that is 5 straggler tasks each holding a corpus-sized
    * partition. The aggregate's partial (map-side) phase discards
    * non-contenders before the exchange, so the shuffle carries ≤ k rows
    * per (map task, query) and the final task per query merges
    * ≤ k·numPartitions pre-sorted candidates — bounded regardless of
    * corpus size. Ordering is (score desc, id asc). A null score (null or
    * malformed embedding) never ranks; a NaN score ranks LAST (java
    * Double order) — the old window's desc order put NaN first, which was
    * never the wanted answer for a similarity search. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val top = Udx.topK(k)
    scored
      .groupBy(col("query_id"))
      .agg(top(col("cosine"), col("id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.id").as("id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact brute-force top-k: for each query row, the k nearest corpus
    * rows by cosine. `queries` must be small (it is broadcast). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                     idCol: String, k: Int, native: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        cosineCol(col("vec"), col("query_vec"), native).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** LSH top-k: both sides keyed by hyperplane signature; a query only
    * scores corpus rows sharing its bucket. Approximate (recall < 1);
    * verify-and-rank is exact cosine. Two recall knobs, composable:
    *
    *  - `multiProbe`: each query additionally probes the buckets at
    *    Hamming distance 1 (its `multiProbe` lowest signature bits
    *    flipped) — the standard multi-probe trade: recall of fewer bits
    *    at the bucket-balance of more bits. Probing explodes only the
    *    tiny broadcast query side.
    *  - `tables`: OR-amplification across independently-seeded
    *    signature sets; per-neighbor miss probability decays as
    *    (1-p^nBits)^tables while corpus candidate volume grows linearly.
    *
    * With tables > 1 (or probing) a corpus row can reach a query more
    * than once, so scored candidates are de-duplicated before ranking
    * (the duplicate rows carry bit-identical cosines — same inputs). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, dim: Int, nBits: Int = 8,
              native: Boolean = false, multiProbe: Int = 0,
              tables: Int = 1): DataFrame = {
    def sig(v: Column, t: Int) =
      if (native) call_function(graft.plans.HyperplaneSignature.name,
        v, lit(nBits), lit(dim), lit(42L + t))
      else hyperplaneSignature(v, nBits, dim, 42L + t)
    def banded(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        posexplode(array((0 until tables).map(t => sig(col(vecCol), t)): _*)))
        .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    val c = banded(corpus, "id", "vec")
    val q0 = banded(queries, "query_id", "query_vec")
    val q = if (multiProbe <= 0) q0 else {
      val flips = lit(0L) +: (0 until math.min(multiProbe, nBits)).map(i => lit(1L << i))
      q0.withColumn("__flip", explode(array(flips: _*)))
        .withColumn("bucket", col("bucket").bitwiseXOR(col("__flip")))
        .drop("__flip")
    }
    val scored = c.join(broadcast(q), Seq("table", "bucket"))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        cosineCol(col("vec"), col("query_vec"), native).as("cosine"))
    // single-table probing needs no dedup (xor is injective: a corpus row
    // reaches a query through at most one probe); across tables it does
    val deduped = if (tables > 1) scored.distinct() else scored
    topKPerQuery(deduped, k)
  }

  /** Flatten a codebook and BROADCAST it: the assignment expressions ship
    * a handle, never the matrix — plan size is constant in k·dim (the
    * old `typedLit` codebook put k centroid structs into the expression
    * tree: a planner DoS at web-scale centroid counts). */
  private def broadcastCodebook(spark: SparkSession,
                                cents: Seq[(Long, Seq[Float])])
      : (org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Float])], Int) = {
    require(cents.nonEmpty, "empty codebook")
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim), "ragged codebook")
    val cids = cents.map(_._1).toArray
    val flat = new Array[Float](cents.length * dim)
    cents.zipWithIndex.foreach { case ((_, v), i) =>
      var j = 0
      while (j < dim) { flat(i * dim + j) = v(j); j += 1 }
    }
    (spark.sparkContext.broadcast((cids, flat)), dim)
  }

  /** Map-side nearest-centroid assignment: one codegen'd fused loop over
    * the BROADCAST codebook per row ([[graft.plans.NearestCentroids]]) —
    * the per-row argmin the IVF quantizer needs, with ZERO shuffle and a
    * plan whose size is independent of k (the codebook travels as a
    * broadcast handle, not a literal).
    *
    * Centroids are iterated in ascending cid order with a strict `<`, so
    * equal-distance ties resolve to the smallest cid — identical to the
    * old `orderBy(distance, cid)` rank-1 rule. Distances are compared
    * squared (sqrt is monotone, ordering unchanged). */
  private[graft] def nearestCentroidCol(spark: SparkSession, vec: Column,
                                        cents: Seq[(Long, Seq[Float])]): Column = {
    val (bc, dim) = broadcastCodebook(spark, cents)
    org.apache.spark.sql.classic.GraftShims.column(
      graft.plans.NearestCentroids(
        org.apache.spark.sql.classic.GraftShims.expression(vec), bc, dim, 1))
  }

  /** TWO nearest centroids per row (soft assignment), same broadcast
    * fused-loop discipline as [[nearestCentroidCol]]; ties resolve to
    * the smaller cid on both slots (strict `<`). */
  private[graft] def nearest2CentroidsCol(spark: SparkSession, vec: Column,
                                          cents: Seq[(Long, Seq[Float])]): Column = {
    val (bc, dim) = broadcastCodebook(spark, cents)
    org.apache.spark.sql.classic.GraftShims.column(
      graft.plans.NearestCentroids(
        org.apache.spark.sql.classic.GraftShims.expression(vec), bc, dim, 2))
  }

  /** Deterministic k-means (Lloyd) refinement of an IVF codebook. Each
    * iteration is ONE corpus scan: map-side nearest-centroid assignment
    * (no shuffle) + per-(cell, dimension) mean — a partially-aggregated
    * shuffle whose reduce side is k·dim rows, collected to the driver
    * (16×64 doubles — codebook-sized). Seeded from the hash-lowest corpus
    * rows, so the whole build is RNG-free and rerun-stable. Empty cells
    * keep their previous centroid. */
  def kmeansCodebook(corpus: DataFrame, vecCol: String, idCol: String,
                     k: Int, iters: Int): Seq[(Long, Seq[Float])] = {
    val spark = corpus.sparkSession
    var cents: Seq[(Long, Seq[Float])] = corpus
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(k)
      .select(col("cid"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    // multi-iteration builds scan the SAME projected vectors every Lloyd
    // step — persist so iterations 2..n pay a cached columnar read, not
    // a recomputation of the whole upstream plan
    val vecs = corpus.select(col(vecCol).as("vec"))
    if (iters > 1)
      vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var it = 0
      while (it < iters) {
        // per-iteration broadcast, destroyed after the eager collect —
        // N iterations must not accumulate N codebook copies on executors
        val (bc, dim) = broadcastCodebook(spark, cents)
        val cidCol = org.apache.spark.sql.classic.GraftShims.column(
          graft.plans.NearestCentroids(
            org.apache.spark.sql.classic.GraftShims.expression(col("vec")),
            bc, dim, 1))
        val means = vecs
          .withColumn("cid", cidCol)
          // a malformed vector (null, or length != dim) assigns cid NULL
          // — it contributes to no cell's mean, same as the assignment
          // path where it joins to no probe
          .where(col("cid").isNotNull)
          .select(col("cid"), posexplode(col("vec")))
          .groupBy(col("cid"), col("pos"))
          .agg(avg(col("col")).as("m"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
          }
        bc.destroy()
        cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
        it += 1
      }
      cents
    } finally if (iters > 1) { vecs.unpersist(blocking = false): Unit }
  }

  /** IVF-style search: corpus assigned to the nearest of `nCentroids`
    * centroids; a query probes the `nProbe` nearest centroid cells. The
    * coarse quantizer is built once (tiny — nCentroids rows collected to
    * the driver, metadata-sized) and shipped to executors as a BROADCAST
    * codebook; per-query work is O(corpus * nProbe / nCentroids).
    * `kmeansIters` Lloyd iterations (one corpus scan each) balance the
    * cells — hash-sampled seeds alone skew cell sizes and recall.
    */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              kmeansIters: Int = 0): DataFrame = {
    val cents = kmeansCodebook(corpus, vecCol, idCol, nCentroids, kmeansIters)

    // map-side assignment: scan → project, no exchange
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cid", nearestCentroidCol(spark, col("vec"), cents))

    // queries probe their nProbe nearest cells (query set is tiny; the
    // explode over the ranked centroid list is broadcast-sized work)
    val centDf = spark.createDataFrame(cents.map(c => (c._1, c._2))).toDF("cid", "cvec")
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .crossJoin(broadcast(centDf))
      .withColumn("d", l2Distance(col("query_vec"), col("cvec")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("d"), col("cid"))))
      .where(col("rnk") <= nProbe)
      .select(col("cid"), col("query_id"), col("query_vec"))

    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        cosine(col("vec"), col("query_vec")).as("cosine"))
    topKPerQuery(scored, k)
  }

  // ---- product quantization (compressed-corpus ANN) -------------------

  /** Per-subspace PQ codebooks: `dim` split into `m` contiguous subspaces
    * of dim/m; each gets its own deterministic k-means codebook
    * ([[kmeansCodebook]]) over the corpus's sliced vectors. Build cost is
    * m independent (and individually cached) codebook builds — an
    * index-build-time cost, like any ANN training pass. */
  def pqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
                  dim: Int, m: Int, ksub: Int = 16,
                  kmeansIters: Int = 2): Seq[Seq[(Long, Seq[Float])]] = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    // the m sub-builds are INDEPENDENT: submit them concurrently so each
    // build's small seed/Lloyd jobs back-fill the cores the others leave
    // idle (guide §2.6 — overlap independent jobs; the Bench.ingest
    // pattern), over ONE shared persisted (id, vec) projection instead of
    // m separate scans of the upstream plan. Each sub-build's own plan,
    // partitioning, and arithmetic are unchanged, so every codebook is
    // bit-identical to the sequential build's.
    val base = corpus.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded overlap: the m sub-builds queue on the shared §2.6 pool
      // (guide: 2-3 jobs in flight), instead of all m racing at once on
      // the unbounded global EC
      import scala.concurrent.Future
      import Overlap.ec
      val builds = (0 until m).map { j => Future {
        kmeansCodebook(
          base.select(col(idCol), slice(col(vecCol), j * sub + 1, sub)
            .as(vecCol)),
          vecCol, idCol, ksub, kmeansIters)
      }}
      Overlap.awaitAll(builds)
    } finally { base.unpersist(blocking = false): Unit }
  }

  /** Encode the corpus against PQ codebooks: each row becomes `m` cell
    * ids — dim·4 bytes of floats compress to m small codes (32× at
    * dim=64, m=8, ksub≤256). Pure map-side work: one broadcast fused
    * argmin per subspace ([[nearestCentroidCol]]), no shuffle — the
    * encoded corpus is what a 100 TB deployment persists and scans. */
  def pqEncode(spark: SparkSession, corpus: DataFrame, vecCol: String,
               idCol: String, books: Seq[Seq[(Long, Seq[Float])]],
               dim: Int): DataFrame = {
    val m = books.size
    val sub = dim / m
    corpus.select(col(idCol).as("id"),
      array((0 until m).map(j =>
        nearestCentroidCol(spark, slice(col(vecCol), j * sub + 1, sub),
          books(j))): _*).as("codes"))
  }

  /** [[pqEncode]] with the codes PACKED to one byte per subspace
    * (`binary`, requires ksub ≤ 256) — the form a deployment PERSISTS:
    * m bytes per vector vs dim·4 of floats (32× at dim=64/m=8), and
    * exactly the compressed row the native ADC kernel scans. Packed
    * codes require `native = true` at search (HOFs can't index binary). */
  def pqEncodePacked(spark: SparkSession, corpus: DataFrame, vecCol: String,
                     idCol: String, books: Seq[Seq[(Long, Seq[Float])]],
                     dim: Int): DataFrame = {
    require(books.forall(_.size <= 256),
      s"packed PQ codes need ksub <= 256, got ${books.map(_.size).max}")
    val arr = pqEncode(spark, corpus, vecCol, idCol, books, dim)
    arr.select(col("id"),
      org.apache.spark.sql.classic.GraftShims.column(
        graft.plans.PqPackCodes(
          org.apache.spark.sql.classic.GraftShims.expression(col("codes"))))
        .as("codes"))
  }

  /** PQ top-k via ASYMMETRIC DISTANCE COMPUTATION: per query, a lookup
    * table of ⟨query-slice, centroid⟩ partial inner products (and
    * centroid norms) is built — m·ksub entries, metadata-sized — and
    * broadcast; the encoded corpus is scanned once, each row's
    * approximate cosine assembled by m table lookups (codegen'd
    * `zip_with`/`aggregate` HOFs, no shuffle of the corpus). Per-query
    * ranking is the bounded-heap partial agg shared by every variant.
    *
    *  - `rerank` > 0: the top `rerank` ADC candidates per query are
    *    re-scored with EXACT cosine against the full vectors (a
    *    candidate-sized semi-join back to the corpus — rows ∝ queries ×
    *    rerank, never the corpus) before the final top-k. Scores are then
    *    exact; only RECALL is approximate — the standard PQ+refine
    *    pipeline.
    *  - `rerank` = 0: scores are the ADC approximations.
    *
    * Scale shape: the scan reads m codes per row instead of dim floats —
    * the 32× byte reduction is the point: at 100 TB of raw embeddings
    * the PQ scan touches ~3 TB. Everything per-row is map-side; the only
    * exchanges are the bounded top-k aggregations and (rerank) the
    * candidate join keyed on corpus id. */
  def pqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             vecCol: String, idCol: String, k: Int, dim: Int,
             m: Int = 8, ksub: Int = 16, kmeansIters: Int = 2,
             rerank: Int = 0, native: Boolean = false): DataFrame = {
    val books = pqCodebooks(corpus, vecCol, idCol, dim, m, ksub, kmeansIters)
    // the native path scans the PACKED (deployment) form when it fits a
    // byte; the HOF fallback needs indexable array codes
    val codes =
      if (native && books.forall(_.size <= 256))
        pqEncodePacked(spark, corpus, vecCol, idCol, books, dim)
      else pqEncode(spark, corpus, vecCol, idCol, books, dim)
    pqTopKEncoded(spark, codes, corpus, queries, books, vecCol, idCol,
      k, dim, rerank, native)
  }

  /** Search over an ALREADY-ENCODED corpus — the serving path: a real
    * deployment builds codebooks once, persists the code table, and runs
    * every query load against it; [[pqTopK]] is build + this. `codes`
    * must be `(id, codes)` as produced by [[pqEncode]] with `books`. */
  def pqTopKEncoded(spark: SparkSession, codes: DataFrame, corpus: DataFrame,
                    queries: DataFrame, books: Seq[Seq[(Long, Seq[Float])]],
                    vecCol: String, idCol: String, k: Int, dim: Int,
                    rerank: Int = 0, native: Boolean = false): DataFrame = {
    require(native ||
        codes.schema("codes").dataType !=
          org.apache.spark.sql.types.BinaryType,
      "packed (binary) PQ codes require the native ADC kernel " +
        "(native = true; register graft.plans.PqAdcScore first)")
    val adc = codes.crossJoin(broadcast(pqLut(spark, queries, books,
        vecCol, idCol, dim)))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        pqScoreCol(books, native).as("cosine"))

    if (rerank <= 0) topKPerQuery(adc, k)
    else topKPerQuery(
      rerankExact(adc, corpus, queries, vecCol, idCol, rerank), k)
  }

  /** SQ8 scalar-quantized encoding of an embedding corpus: per-vector
    * symmetric int8 codes ([[VectorFunctions.int8Quantize]] against
    * [[VectorFunctions.int8Scale]]), packed to one signed byte per
    * dimension under `native` ([[graft.plans.Sq8Pack]]) — the stored
    * form is 4× smaller than float32 and ranks with near-exact
    * fidelity. NO scale column is carried: symmetric quantization makes
    * the scale cancel in cosine, so the code bytes alone rank
    * ([[graft.plans.Sq8Cosine]]); exact scores come from the rerank
    * pass against the raw corpus. Map-side only — one projection, zero
    * shuffle at any corpus size. */
  def sqEncode(corpus: DataFrame, vecCol: String, idCol: String,
               native: Boolean = false): DataFrame = {
    if (native)
      // fused one-pass kernel: scale + quantize + pack in codegen —
      // bit-identical to the HOF chain (PlansSpec), 40× cheaper at 40M
      // vectors (the HOF form re-evaluated the scale aggregate per
      // element; BENCH_COLD)
      corpus.select(col(idCol).as("id"),
        org.apache.spark.sql.classic.GraftShims.column(
          graft.plans.Sq8Encode(
            org.apache.spark.sql.classic.GraftShims.expression(
              col(vecCol)))).as("codes"))
    else {
      // fallback: BIND the scale to its own column first — an aggregate
      // HOF referenced inside the quantize lambda re-evaluates per
      // element (O(dim²) per row, the interpreted-HOF gotcha)
      corpus
        .select(col(idCol).as("id"), col(vecCol).as("__v"),
          int8Scale(col(vecCol)).as("__s"))
        .select(col("id"), int8Quantize(col("__v"), col("__s")).as("codes"))
    }
  }

  /** Search an ALREADY-ENCODED SQ8 corpus — the serving path: the scan
    * reads dim BYTES per row instead of 4·dim (the FAISS SQ8 trade:
    * 4× fewer bytes at near-exact ranking fidelity — the high-fidelity
    * middle rung between raw floats and PQ's 32×-but-codebook-coarse
    * codes). Plan shape matches [[bruteForceTopK]]: broadcast queries,
    * one map-side scored pass over the code column, bounded-heap top-k —
    * no shuffle of the corpus. `rerank > 0` re-scores the top
    * candidates with exact cosine against the raw vectors (broadcast
    * semi-join), making returned scores exact while recall stays
    * SQ8-approximate. */
  def sqTopKEncoded(spark: SparkSession, codes: DataFrame,
                    corpus: DataFrame, queries: DataFrame,
                    vecCol: String, idCol: String, k: Int,
                    rerank: Int = 0, native: Boolean = false): DataFrame = {
    require(native ||
        codes.schema("codes").dataType !=
          org.apache.spark.sql.types.BinaryType,
      "packed (binary) SQ8 codes require the native kernel " +
        "(native = true; register graft.plans.Sq8Cosine first)")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("query_vec"))
    val scored = codes.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        (if (native) call_function(graft.plans.Sq8Cosine.name,
          col("codes"), col("query_vec"))
         else cosine(col("codes"), col("query_vec"))).as("cosine"))
    if (rerank <= 0) topKPerQuery(scored, k)
    else topKPerQuery(
      rerankExact(scored, corpus, queries, vecCol, idCol, rerank), k)
  }

  /** [[sqEncode]] + [[sqTopKEncoded]] in one call — build-and-search for
    * tests and one-shot jobs; a real deployment persists the encoded
    * table once and serves every query load from it. */
  def sqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             vecCol: String, idCol: String, k: Int, rerank: Int = 0,
             native: Boolean = false): DataFrame =
    sqTopKEncoded(spark, sqEncode(corpus, vecCol, idCol, native), corpus,
      queries, vecCol, idCol, k, rerank, native)

  /** Per-query ADC lookup table: ip[j·ksub + cid] = ⟨q_j, centroid⟩ and
    * cn[...] = ‖centroid‖², flattened in (j, cid) order so the scan side
    * indexes by arithmetic; plus the query norm. m·ksub entries per
    * query — metadata-sized, built for broadcast. */
  private def pqLut(spark: SparkSession, queries: DataFrame,
                    books: Seq[Seq[(Long, Seq[Float])]],
                    vecCol: String, idCol: String, dim: Int): DataFrame = {
    val m = books.size
    val sub = dim / m
    // (subspace, cell) → centroid rows, for the per-query LUT build
    val centDf = spark.createDataFrame(
      for { (book, j) <- books.zipWithIndex; (cid, v) <- book }
        yield (j, cid, v)).toDF("j", "cid", "cvec")
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .crossJoin(broadcast(centDf))
      .select(col("query_id"), col("query_vec"), col("j"), col("cid"),
        dot(slice(col("query_vec"), col("j") * sub + 1, lit(sub)),
          col("cvec")).as("ip"),
        dot(col("cvec"), col("cvec")).as("cn"))
      .groupBy(col("query_id"))
      .agg(
        transform(sort_array(collect_list(
          struct(col("j"), col("cid"), col("ip")))), e => e("ip")).as("ip"),
        transform(sort_array(collect_list(
          struct(col("j"), col("cid"), col("cn")))), e => e("cn")).as("cn"),
        sqrt(first(dot(col("query_vec"), col("query_vec")))).as("qn"))
  }

  /** Per-row ADC score over `codes` + a joined [[pqLut]] row: m table
    * lookups. The codegen'd expression ([[graft.plans.PqAdcScore]],
    * `native = true` — callers register it first) is the hot-path form:
    * the HOF chain evaluates INTERPRETED lambdas per element per
    * (row × query) pair, which measured slower than even the exact
    * native cosine — inverting the point of PQ. */
  private def pqScoreCol(books: Seq[Seq[(Long, Seq[Float])]],
                         native: Boolean): Column = {
    val m = books.size
    // a tiny corpus can seed fewer than ksub cells — the LUT's flattening
    // arithmetic must use the REAL per-book size, and all books must agree
    val kk = books.head.size
    require(books.forall(_.size == kk),
      s"ragged PQ codebooks: ${books.map(_.size)}")
    def lutSum(table: Column) = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(table, (j * kk + c + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    if (native) call_function(graft.plans.PqAdcScore.name,
      col("codes"), col("ip"), col("cn"), col("qn"))
    else lutSum(col("ip")) / (col("qn") * sqrt(lutSum(col("cn"))))
  }

  /** Exact-cosine refinement of the top `rerank` approximate candidates
    * per query: candidates are queries × rerank rows — BROADCAST them so
    * the refine pass is a map-side semi-join on the corpus scan, not a
    * corpus-sized shuffle. Returned scores are exact; only recall stays
    * approximate — the standard ANN+refine pipeline. */
  private def rerankExact(approx: DataFrame, corpus: DataFrame,
                          queries: DataFrame, vecCol: String, idCol: String,
                          rerank: Int): DataFrame = {
    val cand = topKPerQuery(approx, rerank)
      .select(col("query_id"), col("id"))
    corpus
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("query_vec"))), Seq("query_id"))
      .select(col("query_id"), col("id"),
        cosine(col("vec"), col("query_vec")).as("cosine"))
  }

  /** IVF-PQ: the coarse quantizer and the compressed-code scan COMPOSED —
    * the FAISS-style big-corpus serving shape. The corpus is assigned to
    * `nCentroids` k-means cells (map-side broadcast argmin, zero shuffle)
    * and PQ-encoded (packed 1-byte codes under `native`); a query probes
    * its `nProbe` nearest cells, and the ADC scan reads ONLY the probed
    * cells' code rows — bytes touched per query:
    * corpus · (nProbe/nCentroids) · (m / 4·dim), the two reductions
    * multiplying (at 100 TB of raw embeddings, 16 cells / 4 probed and
    * dim=64→m=8 codes: ~780 GB per full query sweep). On a graft/parquet
    * code table clustered by `cid`, the cell restriction additionally
    * prunes FILES via zone maps, not just rows.
    *
    * Codebooks are shared across cells (IMI/residual refinements trade
    * accuracy for more build passes; the recall knobs here are `nProbe`
    * and the exact `rerank`). With `rerank` > 0 scores are exact, recall
    * approximate — same contract as [[pqTopK]]. A persisted-index serving
    * variant is [[ivfPqTopKEncoded]]. */
  def ivfPqTopK(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                vecCol: String, idCol: String, k: Int, dim: Int,
                nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8,
                ksub: Int = 16, kmeansIters: Int = 1, rerank: Int = 0,
                native: Boolean = false): DataFrame = {
    // coarse quantizer and PQ codebooks are independent builds — overlap
    // them (guide §2.6); each build's own jobs and arithmetic unchanged.
    // Only the LEAF build (the coarse quantizer) goes to the bounded
    // pool; pqCodebooks overlaps internally on the same pool and runs on
    // THIS thread, so no pool thread ever blocks awaiting pool work.
    val (cents, books) = {
      import scala.concurrent.Future
      import Overlap.ec
      val cf = Future(
        kmeansCodebook(corpus, vecCol, idCol, nCentroids, kmeansIters))
      val bs = pqCodebooks(corpus, vecCol, idCol, dim, m, ksub, kmeansIters)
      (Overlap.awaitAll(Seq(cf)).head, bs)
    }
    // one-pass index build: cell id + codes, all map-side broadcast argmins
    val sub = dim / m
    val codesArr = array((0 until m).map(j =>
      nearestCentroidCol(spark, slice(col(vecCol), j * sub + 1, sub),
        books(j))): _*)
    val packed = native && books.forall(_.size <= 256)
    val codes = corpus.select(col(idCol).as("id"),
      nearestCentroidCol(spark, col(vecCol), cents).as("cid"),
      (if (packed) org.apache.spark.sql.classic.GraftShims.column(
        graft.plans.PqPackCodes(
          org.apache.spark.sql.classic.GraftShims.expression(codesArr)))
       else codesArr).as("codes"))
    ivfPqTopKEncoded(spark, codes, corpus, queries, cents, books,
      vecCol, idCol, k, dim, nProbe, rerank, native)
  }

  /** Search an ALREADY-BUILT IVF-PQ index — the serving path: `codes`
    * must be `(id, cid, codes)` rows with `cid` assigned against `cents`
    * and `codes` encoded against `books` (see [[ivfPqTopK]]'s build). */
  def ivfPqTopKEncoded(spark: SparkSession, codes: DataFrame,
                       corpus: DataFrame, queries: DataFrame,
                       cents: Seq[(Long, Seq[Float])],
                       books: Seq[Seq[(Long, Seq[Float])]],
                       vecCol: String, idCol: String, k: Int, dim: Int,
                       nProbe: Int, rerank: Int = 0,
                       native: Boolean = false): DataFrame = {
    val probes = probeCells(spark, queries, cents, vecCol, idCol, nProbe)
    ivfPqAdcPipeline(spark, codes, probes, corpus, queries, books,
      vecCol, idCol, k, dim, rerank, native)
  }

  /** Persist an IVF-PQ index as a GRAFT TABLE clustered by cell id:
    * composite key `(cid, id)` — unique per row, and the LEADING key is
    * the cell, so the manifest zone map clusters files by cid and a
    * probed-cell `IN` filter prunes FILES before any IO
    * ([[ivfPqTopKGraft]]). This is the deployment form at 100 TB: the
    * coarse restriction happens at the FILE level (nProbe/nCentroids of
    * the files are even opened), the PQ compression at the BYTE level
    * within them, and the index is an ordinary graft table — zone-map
    * routed, compactable, incrementally mergeable, time-travelable. */
  def ivfPqIndexTable(spark: SparkSession, corpus: DataFrame, root: String,
                      vecCol: String, idCol: String, dim: Int,
                      nCentroids: Int = 16, m: Int = 8, ksub: Int = 16,
                      kmeansIters: Int = 1, numFiles: Int = 16,
                      native: Boolean = false)
      : (Seq[(Long, Seq[Float])], Seq[Seq[(Long, Seq[Float])]]) = {
    val cents = kmeansCodebook(corpus, vecCol, idCol, nCentroids, kmeansIters)
    val books = pqCodebooks(corpus, vecCol, idCol, dim, m, ksub, kmeansIters)
    val sub = dim / m
    val codesArr = array((0 until m).map(j =>
      nearestCentroidCol(spark, slice(col(vecCol), j * sub + 1, sub),
        books(j))): _*)
    val packed = native && books.forall(_.size <= 256)
    val rows = corpus.select(
      nearestCentroidCol(spark, col(vecCol), cents).as("cid"),
      col(idCol).as("id"),
      (if (packed) org.apache.spark.sql.classic.GraftShims.column(
        graft.plans.PqPackCodes(
          org.apache.spark.sql.classic.GraftShims.expression(codesArr)))
       else codesArr).as("codes"))
    graft.GraftTable.create(rows, root, "cid", numFiles = numFiles,
      moreKeys = Seq("id"))
    (cents, books)
  }

  /** INCREMENTAL maintenance of a persisted [[ivfPqIndexTable]]: encode
    * the arriving vectors against the EXISTING codebooks (map-side
    * broadcast argmins, zero shuffle) and upsert them as an ordinary
    * graft CoW merge — per-ingest cost ∝ batch + the dirty index files
    * its cells route to, never the index. Re-ingesting a vector id
    * replaces its codes (the (cid, id) key), so upstream retries are
    * idempotent; deletes flow through the same merge (`op = delete`
    * rows). Centroids and codebooks stay FIXED — the standard serving
    * trade (FAISS add_with_ids): quantization error drifts as the
    * distribution moves, and the remedy is a rebuild, not per-batch
    * retraining. Returns the new index version. */
  def ivfPqIndexIngest(spark: SparkSession, indexRoot: String,
                       newVecs: DataFrame,
                       cents: Seq[(Long, Seq[Float])],
                       books: Seq[Seq[(Long, Seq[Float])]],
                       vecCol: String, idCol: String, dim: Int,
                       native: Boolean = false): Long = {
    val m = books.size
    val sub = dim / m
    val codesArr = array((0 until m).map(j =>
      nearestCentroidCol(spark, slice(col(vecCol), j * sub + 1, sub),
        books(j))): _*)
    val packed = native && books.forall(_.size <= 256)
    val rows = newVecs.select(
      nearestCentroidCol(spark, col(vecCol), cents).as("cid"),
      col(idCol).as("id"),
      (if (packed) org.apache.spark.sql.classic.GraftShims.column(
        graft.plans.PqPackCodes(
          org.apache.spark.sql.classic.GraftShims.expression(codesArr)))
       else codesArr).as("codes"),
      lit("upsert").as("op"))
    graft.GraftTable(spark, indexRoot, "cid").commit(rows)
  }

  /** Serve IVF-PQ queries against a PERSISTED [[ivfPqIndexTable]]: the
    * probed cell set (queries × nProbe cell ids — driver-tiny) becomes
    * an `IN` filter on the graft read, which the V2 scan pushes into
    * the manifest zone map — only the files holding probed cells are
    * OPENED; everything downstream is the shared ADC pipeline. */
  def ivfPqTopKGraft(spark: SparkSession, indexRoot: String,
                     corpus: DataFrame, queries: DataFrame,
                     cents: Seq[(Long, Seq[Float])],
                     books: Seq[Seq[(Long, Seq[Float])]],
                     vecCol: String, idCol: String, k: Int, dim: Int,
                     nProbe: Int, rerank: Int = 0,
                     native: Boolean = false): DataFrame = {
    val probes = probeCells(spark, queries, cents, vecCol, idCol, nProbe)
    // the union of probed cells is ≤ queries × nProbe ids (and ≤
    // nCentroids) — metadata-sized by construction, safe to collect
    val cids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = spark.read.format("graft").load(indexRoot)
      .where(col("cid").isin(cids: _*))
    ivfPqAdcPipeline(spark, codes, probes, corpus, queries, books,
      vecCol, idCol, k, dim, rerank, native)
  }

  /** nProbe nearest cells per query (broadcast-sized work, the ivfTopK
    * probe construction): (cid, query_id) rows. */
  private def probeCells(spark: SparkSession, queries: DataFrame,
                         cents: Seq[(Long, Seq[Float])],
                         vecCol: String, idCol: String,
                         nProbe: Int): DataFrame = {
    val centDf = spark.createDataFrame(cents.map(c => (c._1, c._2)))
      .toDF("cid", "cvec")
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .crossJoin(broadcast(centDf))
      .withColumn("d", l2Distance(col("query_vec"), col("cvec")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("d"), col("cid"))))
      .where(col("rnk") <= nProbe)
      .select(col("cid"), col("query_id"))
  }

  /** The cell-restricted ADC scan + optional exact rerank shared by the
    * in-memory ([[ivfPqTopKEncoded]]) and graft-table
    * ([[ivfPqTopKGraft]]) serving paths: joining the code scan to the
    * broadcast (cid, query_id) probe set replaces pqTopKEncoded's
    * crossJoin — each code row is scored only against the queries
    * probing its cell. */
  private def ivfPqAdcPipeline(spark: SparkSession, codes: DataFrame,
                               probes: DataFrame, corpus: DataFrame,
                               queries: DataFrame,
                               books: Seq[Seq[(Long, Seq[Float])]],
                               vecCol: String, idCol: String, k: Int,
                               dim: Int, rerank: Int,
                               native: Boolean): DataFrame = {
    require(native ||
        codes.schema("codes").dataType !=
          org.apache.spark.sql.types.BinaryType,
      "packed (binary) PQ codes require the native ADC kernel " +
        "(native = true; register graft.plans.PqAdcScore first)")
    val adc = codes.join(broadcast(probes), Seq("cid"))
      .join(broadcast(pqLut(spark, queries, books, vecCol, idCol, dim)),
        Seq("query_id"))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        pqScoreCol(books, native).as("cosine"))
    if (rerank <= 0) topKPerQuery(adc, k)
    else topKPerQuery(
      rerankExact(adc, corpus, queries, vecCol, idCol, rerank), k)
  }

  /** Per-DIMENSION corpus statistics over an embedding column — the
    * normalization/QA report run before training quantizers (a dim with
    * a collapsed range wastes a PQ sub-codebook; a wild one dominates
    * SQ8 scales). Values are fixed-point floor-micros BEFORE
    * aggregation, so min/max/sum are exact 64-bit arithmetic an oracle
    * replays regardless of aggregation order — decimal-from-double casts
    * round differently across engines and are deliberately avoided.
    * One explode + one dim-keyed partial agg (output rows = dims). */
  def dimStats(embs: DataFrame, vecCol: String): DataFrame =
    embs
      .select(posexplode(col(vecCol)))
      .select(col("pos").cast("int").as("dim_idx"),
        floor(col("col").cast("double") * lit(1000000.0)).cast("long")
          .as("__m"))
      .groupBy(col("dim_idx"))
      .agg(count(lit(1)).as("n"),
        min(col("__m")).as("min_micros"),
        max(col("__m")).as("max_micros"),
        sum(col("__m")).as("sum_micros"))

  /** k-NN CLASSIFICATION over the embedding column: each query's label
    * predicted by majority vote among its `k` nearest corpus rows
    * (ties: more votes win, then the smaller label — fully
    * deterministic), returned next to the true label with a `correct`
    * flag — the standard embedding-quality probe (can the space's
    * neighborhoods recover the labels?). Scale = the underlying
    * retrieval's (brute force here; the ANN paths drop in — same
    * (query_id, id, rank) shape); the vote aggregation and the
    * per-query argmax window run over k-sized rows only. */
  def knnClassify(embs: DataFrame, vecCol: String, idCol: String,
                  labelCol: String, queries: DataFrame, k: Int,
                  native: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = bruteForceTopK(embs, queries, vecCol, idCol, k, native)
    val votes = nn
      .join(embs.select(col(idCol).as("id"), col(labelCol).as("__nl")),
        Seq("id"))
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__v").desc, col("__nl").asc)
    votes
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("query_id"), col("__nl").as("predicted"))
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("label")), Seq("query_id"))
      .select(col("query_id"), col("label"), col("predicted"),
        (col("predicted") === col("label")).cast("int").as("correct"))
  }

  /** Label-pair cosine DIAGNOSTICS: mean pairwise cosine within and
    * across label groups — the "is this embedding space separable"
    * report (healthy spaces show within ≫ across). Each pair's cosine
    * lands as floor-micros BEFORE summing, so the aggregates are exact
    * longs in any order; the mean is integer floor-division. All-pairs
    * by construction (the exact eval diagnostic — the LSH/IVF families
    * are the production path for corpus-sized neighbor work), so the
    * input is GUARDED like [[mmrRerank]]'s candidate cap: more than
    * `maxRows` rows fails fast instead of launching an O(n²) join — at
    * scale, hand this a deterministic sample (the [[CorpusPrep.mixture]]
    * md5 rule keeps the sample replayable), not the corpus. The count
    * costs one cheap pre-job on an eval-sized diagnostic input. */
  def labelPairCosines(embs: DataFrame, vecCol: String, idCol: String,
                       labelCol: String,
                       native: Boolean = false,
                       maxRows: Int = 4096): DataFrame = {
    val n = embs.count()
    require(n <= maxRows,
      s"labelPairCosines is an all-pairs eval diagnostic (got $n rows, " +
        s"cap $maxRows) — run it on a deterministic sample, not a corpus")
    val a = embs.select(col(idCol).as("__ia"), col(labelCol).as("__la"),
      col(vecCol).as("__va"))
    val b = embs.select(col(idCol).as("__ib"), col(labelCol).as("__lb"),
      col(vecCol).as("__vb"))
    a.join(b, col("__ia") < col("__ib"))
      .select(
        least(col("__la"), col("__lb")).as("label_a"),
        greatest(col("__la"), col("__lb")).as("label_b"),
        floor(cosineCol(col("__va"), col("__vb"), native) * lit(1000000.0))
          .cast("long").as("__cm"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__cm")).as("__sum"))
      .select(col("label_a"), col("label_b"), col("n_pairs"),
        floor(col("__sum").cast("double") / col("n_pairs")).cast("long")
          .as("mean_cos_micros"),
        (col("label_a") === col("label_b")).cast("int").as("within"))
  }

  /** Recall@k REPORT: per-query and mean recall of any approximate
    * retrieval result against a ground-truth result — the first-class
    * eval surface for the ANN ladder (specs assert recall bounds; this
    * turns the measurement into a queryable operator). Both inputs are
    * (queryCol, idCol[, …]) neighbor tables, e.g. an LSH/IVF/PQ/SQ8
    * result vs [[bruteForceTopK]]. Per query: hits = |ann ∩ truth|,
    * recall = floor(hits·1e6 / k) micros (exact integer arithmetic —
    * the fixed-point discipline); queries the ANN missed entirely
    * still report (0 hits). One summary row rides along with
    * `query_id = −1`: total hits and floor(total·1e6 / (k·nQueries)).
    *
    * Shape: top-k tables are (queries × k)-sized — metadata next to
    * the corpus — so the inner join and the distinct are trivially
    * cheap at any corpus scale; nothing here touches corpus rows. */
  def recallAtK(ann: DataFrame, truth: DataFrame, queryCol: String,
                idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val hits = ann.select(col(queryCol).as("query_id"), col(idCol).as("__i"))
      .join(truth.select(col(queryCol).as("query_id"), col(idCol).as("__i")),
        Seq("query_id", "__i"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    val per = truth.select(col(queryCol).as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id").cast("long"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_micros", col("n_hits") * lit(1000000L) / lit(k.toLong))
      .select(col("query_id"), col("n_hits"),
        floor(col("recall_micros")).cast("long").as("recall_micros"))
    val mean = per.agg(
        sum(col("n_hits")).as("__t"), count(lit(1)).as("__q"))
      .select(lit(-1L).as("query_id"), col("__t").as("n_hits"),
        floor(col("__t") * lit(1000000L) /
          (lit(k.toLong) * col("__q"))).cast("long").as("recall_micros"))
    per.unionByName(mean)
  }

  /** Label-centroid OUTLIER detection: per-label centroids built in
    * exact fixed-point (per-dimension floor-micros sums and
    * floor-division means — no order-sensitive float accumulation
    * anywhere), then every vector scored by cosine against its own
    * label's centroid and flagged when it falls below `minCos` — the
    * mislabeled/corrupt-embedding sweep run before training. Every row
    * returns with its score (auditable gate).
    *
    * Scale shape: one explode + one (label, dim)-keyed exact aggregate
    * (output = labels × dims), centroids reassembled label-side and
    * broadcast back into a pure map — the corpus shuffles nothing but
    * its exploded micros. */
  def labelCentroidOutliers(embs: DataFrame, vecCol: String, idCol: String,
                            labelCol: String, minCos: Double): DataFrame = {
    val dims = embs
      .select(col(labelCol).as("__l"), posexplode(col(vecCol)))
      .select(col("__l"), col("pos"),
        floor(col("col").cast("double") * lit(1000000.0)).cast("long")
          .as("__m"))
      .groupBy(col("__l"), col("pos"))
      .agg(sum(col("__m")).as("__s"), count(lit(1)).as("__c"))
      .select(col("__l"), col("pos"),
        floor(col("__s").cast("double") / col("__c")).cast("long")
          .as("__cm"))
    val centroids = dims
      .groupBy(col("__l"))
      .agg(collect_list(struct(col("pos"), col("__cm"))).as("__parts"))
      .select(col("__l"),
        transform(array_sort(col("__parts")),
          p => p.getField("__cm").cast("double") / lit(1000000.0))
          .as("__cent"))
    embs
      .join(broadcast(centroids), col(labelCol) === col("__l"))
      .select(col(idCol), col(labelCol),
        floor(VectorFunctions.cosine(col(vecCol), col("__cent"))
          * lit(1000000.0)).cast("long").as("centroid_cos_micros"))
      .withColumn("outlier",
        (col("centroid_cos_micros") <
          (minCos * 1000000.0).toLong).cast("int"))
  }

  /** Split a `dim`-wide vector into `m` contiguous sub-vectors (the PQ
    * slicing, exposed as a column) — the multi-vector reshape for
    * late-interaction scoring. */
  def subVectors(vec: Column, m: Int, dim: Int): Column = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m slices")
    val sub = dim / m
    transform(sequence(lit(0), lit(m - 1)), i =>
      slice(vec, i * lit(sub) + lit(1), lit(sub)))
  }

  /** Late-interaction (ColBERT-style MaxSim, Khattab & Zaharia 2020)
    * top-k: each side carries `m` sub-vectors; the pair score is
    * `Σ_i max_j cos(q_i, d_j)` — finer-grained matching than one pooled
    * cosine (a doc scores on its best-matching region per query slice).
    * Here the `m` slices come from [[subVectors]] over one embedding
    * column; token-level multi-vector inputs drop in unchanged.
    *
    * Determinism: the outer sum is a SEQUENTIAL fold over query slices
    * (bit-reproducible); the inner max is exact in any order. Scale
    * shape: same as [[bruteForceTopK]] — queries broadcast, one corpus
    * scan, map-side bounded-heap ranking; per-pair cost is m² cosines of
    * dim/m-wide slices ≈ m× the pooled cosine, the honest
    * late-interaction price. */
  def lateInteractionTopK(corpus: DataFrame, queries: DataFrame,
                          vecCol: String, idCol: String,
                          m: Int, dim: Int, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"),
      subVectors(col(vecCol), m, dim).as("__dsubs"))
    val q = queries.select(col(idCol).as("query_id"),
      subVectors(col(vecCol), m, dim).as("__qsubs"))
    val score = aggregate(col("__qsubs"), lit(0.0), (acc, qs) =>
      acc + aggregate(col("__dsubs"), lit(Double.NegativeInfinity),
        (mx, ds) => greatest(mx, VectorFunctions.cosine(qs, ds))))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"), score.as("cosine"))
    topKPerQuery(scored, k)
  }

  /** The exact double cosine the native kernel computes
    * ([[graft.plans.CosineSimilarity]] — floats upcast per element,
    * sequential accumulation, `dot / (sqrt(nx)·sqrt(ny))`), for
    * driver-side reranking math that must agree bit-for-bit with the
    * distributed scoring. */
  private def cosineExact(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998): from
    * a TOP-N retrieval result, greedily select `k` items maximizing
    * `lambda·rel − (1−lambda)·max_{s∈selected} cos(item, s)` — the
    * standard post-retrieval diversification step (near-duplicate
    * results stop crowding the final ranking). The first pick maximizes
    * `lambda·rel` alone (empty selected set contributes 0); ties break
    * on the smaller id at every step, so the selection is fully
    * deterministic and an oracle can replay it stage by stage.
    *
    * The greedy recurrence is inherently sequential, and `candidates` is
    * a top-N retrieval OUTPUT — metadata-sized by construction (the
    * corpus-scale work already happened inside the retriever). So this
    * runs on the driver over the collected candidate set, the same
    * bounded-driver-work discipline as the broadcast PQ codebooks: never
    * hand this a corpus-sized frame (the require bounds it). Pairwise
    * similarities use [[cosineExact]] — bit-identical to the distributed
    * kernel's scoring.
    *
    * Pass `lambda` as an exactly-representable double (0.5, 0.25, …) if
    * an external system must reproduce `1 − lambda` bit-for-bit.
    *
    * Output: one row per selected item — id (as `idCol`), its input
    * relevance, its MMR score at selection time, and `mmr_rank`. */
  def mmrRerank(spark: SparkSession, candidates: DataFrame, idCol: String,
                relCol: String, vecCol: String, k: Int,
                lambda: Double = 0.5, maxCandidates: Int = 4096): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val rows = candidates
      .select(col(idCol).cast("long"), col(relCol).cast("double"),
        col(vecCol))
      .collect()
    require(rows.length <= maxCandidates,
      s"mmrRerank is a driver-side rerank over a top-N retrieval result " +
        s"(got ${rows.length} rows, cap $maxCandidates) — rerank a " +
        "bounded candidate list, not a corpus")
    case class Cand(id: Long, rel: Double, vec: Array[Float])
    val cands = rows.map { r =>
      val vec = r.getSeq[Float](2).toArray
      Cand(r.getLong(0), r.getDouble(1), vec)
    }
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.map(c => c.id -> c): _*)
    // max similarity to the selected set; ABSENT until the first pick —
    // an empty selected set contributes 0, but a populated one may
    // contribute a NEGATIVE max (anti-correlated vectors), which must
    // not clamp at 0
    val maxSim = scala.collection.mutable.HashMap.empty[Long, Double]
    def penalty(id: Long): Double = maxSim.getOrElse(id, 0.0)
    val picked = Seq.newBuilder[(Long, Double, Double, Int)]
    var rank = 1
    while (rank <= math.min(k, cands.length)) {
      val best = remaining.values.minBy { c =>
        // maximize score, then smaller id: negate for minBy ordering
        (-(lambda * c.rel - (1.0 - lambda) * penalty(c.id)), c.id)
      }
      val score = lambda * best.rel - (1.0 - lambda) * penalty(best.id)
      picked += ((best.id, best.rel, score, rank))
      remaining.remove(best.id)
      remaining.valuesIterator.foreach { c =>
        val s = cosineExact(c.vec, best.vec)
        maxSim.get(c.id) match {
          case Some(prev) => if (s > prev) maxSim(c.id) = s
          case None       => maxSim(c.id) = s
        }
      }
      rank += 1
    }
    val sI = spark; import sI.implicits._
    picked.result().toDF(idCol, relCol, "mmr", "mmr_rank")
  }
}
