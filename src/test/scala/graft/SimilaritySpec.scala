package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusPrep, Similarity}

/** ANN operators against the exact brute-force baseline. */
class SimilaritySpec extends SparkSpec {

  private lazy val embs = Tables.embeddings(spark, sf())
  private lazy val queries = embs.where(col("vec_id") < 10)

  private def topkMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }

  test("brute force: self-similarity is excluded, ranks ordered by cosine desc") {
    val got = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10)
    val rows = got.collect()
    assert(rows.length === 100) // 10 queries × 10
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(!rs.exists(_.getLong(1) == q))
      val cosines = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cosines.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("null embeddings are excluded from ranking, not a crash") {
    val s = spark; import s.implicits._
    val v = (0 until 8).map(i => (i * 0.3).toFloat).toArray
    val w = (0 until 8).map(i => math.cos(i * 2.1).toFloat).toArray
    val df = Seq((1L, Option(v)), (2L, Option(w)), (3L, Option.empty[Array[Float]]))
      .toDF("vec_id", "embedding")
    // a corpus row with a null embedding scores null — it must silently
    // not rank (the old window put nulls last; the top-k aggregate skips
    // null scores)
    val got = Similarity.bruteForceTopK(df, df.where(col("vec_id") === 1),
      "embedding", "vec_id", 5).collect()
    assert(got.map(_.getLong(1)).toSet === Set(2L))
  }

  test("brute force finds an exact duplicate vector at rank 1") {
    val s = spark; import s.implicits._
    val v = (0 until 8).map(i => (i * 0.3).toFloat).toArray
    val other = (0 until 8).map(i => math.cos(i * 2.1).toFloat).toArray
    val df = Seq((1L, v), (2L, v), (3L, other)).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, df.where(col("vec_id") === 1), "embedding", "vec_id", 1)
      .collect()
    assert(got.length === 1)
    assert(got(0).getLong(1) === 2L)
    assert(math.abs(got(0).getDouble(2) - 1.0) < 1e-12)
  }

  test("LSH top-k: OR-amplification (tables) lifts recall toward the independence model") {
    val exact = topkMap(Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10))
    def recallAt(tables: Int) = {
      val approx = topkMap(Similarity.lshTopK(embs, queries, "embedding", "vec_id",
        10, dim = 64, nBits = 3, tables = tables))
      exact.keys.toSeq.map { q =>
        (exact(q).toSet & approx.getOrElse(q, Nil).toSet).size.toDouble / 10
      }.sum / exact.size
    }
    val single = recallAt(1)
    val amplified = recallAt(8)
    // one 8-bucket table catches a noise-level neighbor w.p. ~p^3 ≈ 0.2;
    // eight independently-seeded tables push that to 1-(1-p^3)^8 ≈ 0.8.
    // The lower bounds are slack (fixture is small) but the ORDERING must
    // hold, and amplified recall must clear a usefulness bar no single
    // table reaches on noise-level data.
    assert(amplified >= single, s"amplified $amplified < single $single")
    assert(amplified >= 0.5, s"amplified recall@10 = $amplified")
  }

  test("ranking stage is a bounded partial aggregation, not a per-query window") {
    // the scale contract: no WindowExec anywhere in brute/LSH (a
    // Window.partitionBy(query_id) would funnel every scored candidate
    // into ≤|queries| tasks); ranking runs as ObjectHashAggregate whose
    // partial phase bounds the shuffle to k rows per (map task, query)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val brute = planOf(Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10))
    val lsh = planOf(Similarity.lshTopK(embs, queries, "embedding", "vec_id", 10, dim = 64, nBits = 3))
    for ((name, p) <- Seq("brute" -> brute, "lsh" -> lsh)) {
      assert(!p.contains("Window"), s"$name ranking still uses a window:\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$name lacks partial top-k agg:\n$p")
    }
    // IVF: exactly one window — the nProbe ranking over the broadcast-sized
    // (|queries| × nCentroids) probe table; corpus assignment and final
    // ranking must contribute none
    val ivf = planOf(Similarity.ivfTopK(spark, embs, queries, "embedding", "vec_id", 10))
    assert("Window \\[".r.findAllIn(ivf).length <= 1, // exec node headers only
      s"IVF has corpus-sized window work:\n$ivf")
    assert(ivf.contains("ObjectHashAggregate"), s"IVF lacks partial top-k agg:\n$ivf")
  }

  test("aggregator ranking matches the window formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    // reference: the old row_number-window plan, built inline
    val c = embs.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        graft.functions.VectorFunctions.cosine(col("vec"), col("query_vec")).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("id"))
    val ref = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("id"), col("cosine"), col("rank"))
    val a = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    val b = ref.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(a === b)
  }

  test("native top-k aggregate == a reference sort under the (−score, id) order") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the order TopKAggregate must reproduce exactly: ascending by
    // (−score under java.lang.Double.compare, id)
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    def reference(rows: Seq[(Option[Double], Option[Long])], k: Int) =
      rows.collect { case (Some(s), Some(i)) => (s, i) }
        .sortBy { case (s, i) => (-s, i) }(ord).take(k)
    // ties, NaN, ±0.0, ±Infinity, null scores and ids; group 1 exceeds k,
    // group 2 is smaller than k, group 3 ranks nothing (nulls only)
    val rnd = new scala.util.Random(7)
    val specials = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.5, 0.5, -1.0)
    val g1 = (0 until 200).map { j =>
      val s = if (j % 3 == 0) Some(specials(rnd.nextInt(specials.size)))
        else if (j % 17 == 0) None
        else Some(rnd.nextInt(20) / 4.0)
      val i = if (j % 23 == 0) None else Some(rnd.nextInt(60).toLong)
      (1, s, i)
    }
    val g2 = Seq((2, Some(0.0), Some(5L)), (2, Some(-0.0), Some(4L)),
      (2, Some(Double.NaN), Some(1L)), (2, None, Some(9L)))
    val g3 = Seq((3, None, Some(1L)), (3, Some(1.0), None))
    val all = g1 ++ g2 ++ g3
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("score", DoubleType), StructField("id", LongType)))
    val input = spark.createDataFrame(spark.sparkContext.parallelize(
      all.map { case (g, s, i) =>
        Row(g, s.map(Double.box).orNull, i.map(Long.box).orNull) }), schema)
    def bits(xs: Seq[(Double, Long)]) =
      xs.map { case (s, i) => (java.lang.Double.doubleToLongBits(s), i) }
    for (k <- Seq(1, 3, 10, 250); parts <- Seq(1, 7)) {
      val top = graft.functions.Udx.topK(k)
      val got = input.repartition(parts)
        .groupBy(col("g")).agg(top(col("score"), col("id")).as("top"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Row](1)
          .map(e => (e.getDouble(0), e.getLong(1)))).toMap
      for (g <- Seq(1, 2, 3)) {
        val want = reference(all.filter(_._1 == g).map(x => (x._2, x._3)), k)
        assert(bits(got(g)) === bits(want), s"group $g, k=$k, $parts partitions")
      }
    }
    // an empty input still yields one (empty) global top-k
    val empty = input.where(lit(false))
      .agg(graft.functions.Udx.topK(3)(col("score"), col("id"))).collect()
    assert(empty.map(_.getSeq[Row](0).size).toSeq === Seq(0))
  }

  test("IVF top-k recall with 4/16 probes beats single-bucket LSH coverage") {
    val exact = topkMap(Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10))
    val approx = topkMap(Similarity.ivfTopK(spark, embs, queries, "embedding", "vec_id", 10,
      nCentroids = 16, nProbe = 4))
    val recalls = exact.keys.toSeq.map { q =>
      val a = approx.getOrElse(q, Nil).toSet
      (exact(q).toSet & a).size.toDouble / 10
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.25, s"mean recall@10 = $mean") // probes 1/4 of the corpus
  }

  private def meanRecall(approx: Map[Long, Seq[Long]],
                         exact: Map[Long, Seq[Long]]): Double = {
    val rs = exact.keys.toSeq.map { q =>
      (exact(q).toSet & approx.getOrElse(q, Nil).toSet).size.toDouble / 10
    }
    rs.sum / rs.size
  }

  test("SQ8 search: packed native ≡ HOF ranking bit-exactly, near-exact recall, rerank exact") {
    graft.plans.Sq8Cosine.register(spark)
    val exact = topkMap(Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10))
    val hof = Similarity.sqTopK(spark, embs, queries, "embedding", "vec_id", 10)
    val nat = Similarity.sqTopK(spark, embs, queries, "embedding", "vec_id", 10,
      native = true)
    // the packed binary scan and the array-HOF fallback are the same
    // double math in the same order — identical ranking AND scores
    assert(topkMap(nat) === topkMap(hof))
    val sHof = hof.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sNat = nat.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sHof.foreach { case (k, v) => assert(math.abs(sNat(k) - v) < 1e-12) }
    // symmetric int8 codes rank near-exactly (the SQ8 fidelity claim)
    assert(meanRecall(topkMap(nat), exact) >= 0.8,
      s"SQ8 recall ${meanRecall(topkMap(nat), exact)}")
    // rerank recovers exact cosines: rank-1 matches brute force exactly
    val rr = Similarity.sqTopK(spark, embs, queries, "embedding", "vec_id", 10,
      rerank = 30, native = true)
    assert(meanRecall(topkMap(rr), exact) >= 0.9,
      s"SQ8+rerank recall ${meanRecall(topkMap(rr), exact)}")
    val exactScores = Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rr.collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      exactScores.get(k).foreach(e => assert(math.abs(r.getDouble(2) - e) < 1e-12,
        s"reranked score must be exact at $k"))
    }
    // the stored form really is 1 byte per dimension
    val packed = Similarity.sqEncode(embs, "embedding", "vec_id", native = true)
    assert(packed.select(length(col("codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(64))
    // plan shape: queries broadcast, corpus never shuffled except the
    // final bounded-heap top-k agg — and no per-query window
    val plan = nat.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), "no per-query window")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), "queries must broadcast")
  }

  test("SQ8 degenerate vectors: zero norm scores 0, length mismatch drops, range guard") {
    val s = spark; import s.implicits._
    graft.plans.Sq8Cosine.register(spark)
    val v = (0 until 8).map(i => (i * 0.3).toFloat).toArray
    val zero = Array.fill(8)(0f)
    val short = Array.fill(4)(1f)
    val df = Seq((1L, v), (2L, zero), (3L, short)).toDF("vec_id", "embedding")
    val got = Similarity.sqTopK(spark, df, df.where(col("vec_id") === 1),
      "embedding", "vec_id", 5, native = true).collect()
    // zero-norm corpus row scores 0.0 (ranked, never NaN); the
    // length-mismatched row scores null and drops out
    assert(got.map(_.getLong(1)).toSet === Set(2L))
    assert(got.forall(r => !r.getDouble(2).isNaN))
    // Sq8Pack refuses out-of-range codes rather than wrapping
    val bad = Seq((1L, Array(200))).toDF("vec_id", "codes")
      .select(org.apache.spark.sql.classic.GraftShims.column(
        graft.plans.Sq8Pack(org.apache.spark.sql.classic.GraftShims.expression(
          col("codes")))).as("p"))
    assert(bad.head().isNullAt(0))
  }

  test("PQ ADC search: compressed codes rank usefully; rerank recovers exact scores") {
    val exact = topkMap(Similarity.bruteForceTopK(embs, queries, "embedding",
      "vec_id", 10))

    // pure ADC: every corpus row is scored from its m codes — recall is
    // bounded by quantization error only (no bucket misses)
    val adc = topkMap(Similarity.pqTopK(spark, embs, queries, "embedding",
      "vec_id", k = 10, dim = 64, m = 8, ksub = 16, kmeansIters = 1))
    val adcRecall = meanRecall(adc, exact)
    assert(adcRecall >= 0.3, s"ADC recall@10 = $adcRecall")

    // exact re-rank of a 10× candidate pool: recall must not drop, and
    // surviving ranks carry TRUE cosines (spot-checked against brute)
    val rr = Similarity.pqTopK(spark, embs, queries, "embedding", "vec_id",
      k = 10, dim = 64, m = 8, ksub = 16, kmeansIters = 1, rerank = 100)
    val rrRecall = meanRecall(topkMap(rr), exact)
    assert(rrRecall >= adcRecall - 1e-9,
      s"rerank recall $rrRecall < ADC $adcRecall")
    assert(rrRecall >= 0.5, s"rerank recall@10 = $rrRecall")
    val exactScores = Similarity.bruteForceTopK(embs, queries, "embedding",
      "vec_id", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rr.collect().foreach { r =>
      exactScores.get((r.getLong(0), r.getLong(1))).foreach { s =>
        assert(math.abs(s - r.getDouble(2)) < 1e-12,
          "reranked score must be the exact cosine")
      }
    }

    // the encoded corpus is m small codes per row — the 32× scan-byte
    // story — and the whole pipeline is rerun-deterministic
    val books = Similarity.pqCodebooks(embs, "embedding", "vec_id",
      dim = 64, m = 8, ksub = 16, kmeansIters = 1)
    assert(books.size === 8 && books.forall(_.size === 16))
    val codes = Similarity.pqEncode(spark, embs, "embedding", "vec_id",
      books, dim = 64)
    val row = codes.orderBy("id").head()
    assert(row.getSeq[Long](1).length === 8)
    assert(row.getSeq[Long](1).forall(c => c >= 0 && c < 16))
    val again = topkMap(Similarity.pqTopK(spark, embs, queries, "embedding",
      "vec_id", k = 10, dim = 64, m = 8, ksub = 16, kmeansIters = 1))
    assert(again === adc, "PQ build/search must be deterministic")

    // the codegen'd ADC kernel ranks identically to the HOF chain
    graft.plans.PqAdcScore.register(spark)
    val nat = topkMap(Similarity.pqTopK(spark, embs, queries, "embedding",
      "vec_id", k = 10, dim = 64, m = 8, ksub = 16, kmeansIters = 1,
      native = true))
    assert(nat === adc, "native ADC must rank exactly like the HOF path")

    // PACKED codes (the persisted deployment form): one byte per
    // subspace, identical ranking through the native kernel; the HOF
    // path refuses them loudly
    val packed = Similarity.pqEncodePacked(spark, embs, "embedding",
      "vec_id", books, dim = 64)
    assert(packed.schema("codes").dataType
      === org.apache.spark.sql.types.BinaryType)
    assert(packed.orderBy("id").head().getAs[Array[Byte]](1).length === 8)
    val viaPacked = topkMap(Similarity.pqTopKEncoded(spark, packed, embs,
      queries, books, "embedding", "vec_id", k = 10, dim = 64,
      rerank = 0, native = true))
    assert(viaPacked === nat, "packed codes must rank identically")
    intercept[IllegalArgumentException] {
      Similarity.pqTopKEncoded(spark, packed, embs, queries, books,
        "embedding", "vec_id", k = 10, dim = 64, rerank = 0,
        native = false)
    }
  }

  test("IVF-PQ: full probe matches plain PQ exactly; narrow probe restricts the scan; rerank exact") {
    val exact = topkMap(Similarity.bruteForceTopK(embs, queries, "embedding",
      "vec_id", 10))

    // probing ALL cells makes the cell restriction a no-op partition of
    // the corpus — ranking must be bit-identical to the unrestricted PQ
    // scan over the same codebooks
    val pq = topkMap(Similarity.pqTopK(spark, embs, queries, "embedding",
      "vec_id", k = 10, dim = 64, m = 8, ksub = 16, kmeansIters = 1))
    val fullProbe = topkMap(Similarity.ivfPqTopK(spark, embs, queries,
      "embedding", "vec_id", k = 10, dim = 64, nCentroids = 16,
      nProbe = 16, m = 8, ksub = 16, kmeansIters = 1))
    assert(fullProbe === pq,
      "nProbe = nCentroids must reduce to the unrestricted PQ scan")

    // a narrow probe really restricts: every returned candidate sits in
    // one of its query's probed cells (membership recomputed out-of-band
    // from the same deterministic codebook)
    val cents = Similarity.kmeansCodebook(embs, "embedding", "vec_id", 16, 1)
    val cellOf = embs.select(col("vec_id"),
      Similarity.nearestCentroidCol(spark, col("embedding"), cents))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def probedCells(qid: Long): Set[Long] = {
      val vec = embs.where(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Float](0)
      cents.map { case (cid, c) =>
        val d = c.zip(vec).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
        (cid, d)
      }.sortBy { case (cid, d) => (d, cid) }.take(4).map(_._1).toSet
    }
    val narrow = Similarity.ivfPqTopK(spark, embs, queries, "embedding",
      "vec_id", k = 10, dim = 64, nCentroids = 16, nProbe = 4, m = 8,
      ksub = 16, kmeansIters = 1)
    val narrowRows = narrow.collect()
    assert(narrowRows.nonEmpty)
    narrowRows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val probed = probedCells(qid)
      rs.foreach(r => assert(probed.contains(cellOf(r.getLong(1))),
        s"candidate ${r.getLong(1)} of query $qid sits outside its probed cells"))
    }

    // wide probe + exact rerank: recall floor holds and scores are TRUE
    // cosines (the q124 contract)
    graft.plans.PqAdcScore.register(spark)
    val rr = Similarity.ivfPqTopK(spark, embs, queries, "embedding",
      "vec_id", k = 10, dim = 64, nCentroids = 16, nProbe = 12, m = 8,
      ksub = 16, kmeansIters = 2, rerank = 100, native = true)
    val rrRecall = meanRecall(topkMap(rr), exact)
    assert(rrRecall >= 0.6, s"IVF-PQ rerank recall@10 = $rrRecall")
    val exactScores = Similarity.bruteForceTopK(embs, queries, "embedding",
      "vec_id", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rr.collect().foreach { r =>
      exactScores.get((r.getLong(0), r.getLong(1))).foreach { s =>
        assert(math.abs(s - r.getDouble(2)) < 1e-12,
          "IVF-PQ reranked score must be the exact cosine")
      }
    }

    // native + packed serving path ranks exactly like the HOF/array form
    val hof = topkMap(Similarity.ivfPqTopK(spark, embs, queries,
      "embedding", "vec_id", k = 10, dim = 64, nCentroids = 16,
      nProbe = 12, m = 8, ksub = 16, kmeansIters = 1))
    val nat = topkMap(Similarity.ivfPqTopK(spark, embs, queries,
      "embedding", "vec_id", k = 10, dim = 64, nCentroids = 16,
      nProbe = 12, m = 8, ksub = 16, kmeansIters = 1, native = true))
    assert(nat === hof, "native packed IVF-PQ must rank like the HOF path")
  }

  test("IVF-PQ graft-table serving: probed-cell IN filter prunes index FILES") {
    graft.plans.PqAdcScore.register(spark)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-idx").toString + "/idx"
    val (cents, books) = Similarity.ivfPqIndexTable(spark, embs, root,
      "embedding", "vec_id", dim = 64, nCentroids = 16, numFiles = 8,
      native = true)
    val latest = graft.streaming.CdcMergeSink.latestSnapshot(root)
    val total = graft.sources.MutableParquetTable
      .manifestFileNames(latest).map(_.size).getOrElse(0)
    assert(total >= 4, s"fixture must spread over files, got $total")
    // ONE query, two probed cells: rows sort by (cid, id), so a cell's
    // rows are contiguous and touch at most ceil(cell/file)+1 files —
    // two cells bound the opened set well under the total
    val q = embs.where(col("vec_id") === 0)
    val viaGraft = topkMap(Similarity.ivfPqTopKGraft(spark, root, embs, q,
      cents, books, "embedding", "vec_id", k = 10, dim = 64, nProbe = 2,
      native = true))
    // the probed-cell IN filter reached the manifest zone map: only the
    // files holding probed cells were opened
    val scanned = graft.sources.GraftSource.lastScanFiles.size
    assert(scanned > 0 && scanned < total,
      s"probed-cell prune must open a strict file subset: $scanned/$total")
    // parity: the graft-table path ranks exactly like the in-memory
    // serving path over the same persisted index artifacts
    val codes = spark.read.format("graft").load(root)
    val viaMem = topkMap(Similarity.ivfPqTopKEncoded(spark, codes, embs, q,
      cents, books, "embedding", "vec_id", k = 10, dim = 64, nProbe = 2,
      native = true))
    assert(viaGraft === viaMem && viaGraft.nonEmpty,
      "file-pruned serving must rank exactly like the full-scan form")
  }

  test("IVF-PQ incremental ingest: new vectors upsert into the persisted index and are served") {
    graft.plans.PqAdcScore.register(spark)
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-ing").toString + "/idx"
    // seed the index WITHOUT one known vector, then ingest it
    val held = embs.where(col("vec_id") === 7L)
    val seedCorpus = embs.where(col("vec_id") =!= 7L)
    val (cents, books) = Similarity.ivfPqIndexTable(spark, seedCorpus, root,
      "embedding", "vec_id", dim = 64, nCentroids = 16, numFiles = 8,
      native = true)
    val before = spark.read.format("graft").load(root).count()
    // a near-clone of vector 7 queries the index: before the ingest the
    // true best match is absent; after, it must surface at rank 1
    val q = held.select(col("vec_id") + 1000000L as "vec_id",
      expr("transform(embedding, x -> x + cast(0.001 as float))") as "embedding")
    val v = Similarity.ivfPqIndexIngest(spark, root, held,
      cents, books, "embedding", "vec_id", dim = 64, native = true)
    val after = spark.read.format("graft").load(root)
    assert(after.count() === before + 1)
    assert(after.where(col("id") === 7L).count() === 1)
    val got = Similarity.ivfPqTopKGraft(spark, root,
      embs.select(col("vec_id"), col("embedding")).unionByName(q), q,
      cents, books, "embedding", "vec_id", k = 5, dim = 64, nProbe = 4,
      rerank = 20, native = true).collect()
    assert(got.nonEmpty)
    assert(got.minBy(_.getInt(3)).getLong(1) === 7L,
      s"the ingested vector must serve at rank 1: ${got.mkString(", ")}")
    // idempotent re-ingest: same ids, same codes — row count unchanged
    Similarity.ivfPqIndexIngest(spark, root, held,
      cents, books, "embedding", "vec_id", dim = 64, native = true)
    assert(spark.read.format("graft").load(root).count() === before + 1)
    assert(v >= 0L)
  }

  test("multi-probe LSH recall dominates single-probe at the same bits") {
    val exact = topkMap(Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10))
    val single = meanRecall(topkMap(
      Similarity.lshTopK(embs, queries, "embedding", "vec_id", 10, dim = 64, nBits = 6)),
      exact)
    val multi = meanRecall(topkMap(
      Similarity.lshTopK(embs, queries, "embedding", "vec_id", 10, dim = 64, nBits = 6,
        multiProbe = 6)), exact)
    assert(multi >= single, s"multi-probe $multi < single $single")
    assert(multi > 0.0)
    // multiProbe = 0 is exactly the single-probe result
    val a = Similarity.lshTopK(embs, queries, "embedding", "vec_id", 10, dim = 64,
      nBits = 6, multiProbe = 0).collect().map(_.toString).sorted.toSeq
    val b = Similarity.lshTopK(embs, queries, "embedding", "vec_id", 10, dim = 64,
      nBits = 6).collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }

  test("k-means codebook is deterministic and refines IVF recall") {
    val c1 = Similarity.kmeansCodebook(embs, "embedding", "vec_id", 16, 2)
    val c2 = Similarity.kmeansCodebook(embs, "embedding", "vec_id", 16, 2)
    assert(c1 === c2) // RNG-free build, rerun-stable
    val exact = topkMap(Similarity.bruteForceTopK(embs, queries, "embedding", "vec_id", 10))
    val plain = meanRecall(topkMap(Similarity.ivfTopK(spark, embs, queries,
      "embedding", "vec_id", 10, nCentroids = 16, nProbe = 4)), exact)
    val refined = meanRecall(topkMap(Similarity.ivfTopK(spark, embs, queries,
      "embedding", "vec_id", 10, nCentroids = 16, nProbe = 4, kmeansIters = 2)), exact)
    assert(refined >= plain - 0.05, s"k-means recall $refined << plain $plain")
    assert(refined >= 0.25)
  }

  test("centroid assignment: broadcast codebook, plan size bounded at k=4096") {
    val s = spark; import s.implicits._
    val dim = 8
    // deterministic synthetic codebook — far larger than any literal the
    // planner should ever carry
    def cvec(i: Int): Seq[Float] =
      (0 until dim).map(j => math.sin(i * 31 + j * 7).toFloat)
    val big: Seq[(Long, Seq[Float])] =
      (0 until 4096).map(i => (i.toLong, cvec(i)))
    val small: Seq[(Long, Seq[Float])] = (0 until 4).map(i => (i.toLong, cvec(i)))
    val rows = (0 until 50).map { r =>
      (r.toLong, (0 until dim).map(j => math.cos(r * 13 + j * 3).toFloat).toArray)
    }
    val df = rows.toDF("id", "vec")

    def planLen(cents: Seq[(Long, Seq[Float])]): Int =
      df.select(col("id"),
          Similarity.nearestCentroidCol(spark, col("vec"), cents).as("cid"))
        .queryExecution.executedPlan.toString.length

    // the codebook travels as a broadcast HANDLE: a 1000× larger codebook
    // must not grow the plan (the typedLit form grew it with k·dim)
    val pSmall = planLen(small)
    val pBig = planLen(big)
    assert(pBig <= pSmall + 200,
      s"plan grew with codebook size: k=4 -> $pSmall chars, k=4096 -> $pBig")

    // assignment correctness vs a driver-side argmin (same tie rule)
    def expected(v: Array[Float], cents: Seq[(Long, Seq[Float])]): Long =
      cents.map { case (cid, c) =>
        (c.zip(v).map { case (x, y) =>
          val d = x.toDouble - y.toDouble; d * d }.sum, cid)
      }.minBy(identity)._2
    val got = df.select(col("id"),
        Similarity.nearestCentroidCol(spark, col("vec"), big).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) === expected(v, big), s"row $id")
    }

    // 2-nearest: slots ordered by distance, distinct, same codebook scale
    val got2 = df.select(col("id"),
        Similarity.nearest2CentroidsCol(spark, col("vec"), big).as("cids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { case (id, v) =>
      val ranked = big.map { case (cid, c) =>
        (c.zip(v).map { case (x, y) =>
          val d = x.toDouble - y.toDouble; d * d }.sum, cid)
      }.sorted.take(2).map(_._2)
      assert(got2(id) === ranked, s"row $id")
    }

    // malformed vectors (wrong dim) assign NULL, not a garbage cell
    val bad = Seq((99L, Array(1.0f, 2.0f))).toDF("id", "vec")
    assert(bad.select(Similarity.nearestCentroidCol(spark, col("vec"), big))
      .head().isNullAt(0))
  }

  test("kmeansCodebook tolerates a ragged vector (no mean-pass NPE)") {
    import spark.implicits._
    val ids = 0L until 41L
    // place the ragged vector at the hash-HIGHEST id so the hash-lowest
    // seed sample can never pick it — the lane under test is the Lloyd
    // mean pass, where a NULL cell id must drop out, not NPE
    val hashes = ids.toDF("id")
      .select(col("id"), xxhash64(col("id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raggedId = ids.maxBy(hashes)
    val corpus = ids.map(i =>
      (i, if (i == raggedId) Seq(1.0f)
          else Seq.tabulate(4)(j => ((i % 5) + j).toFloat)))
      .toDF("id", "vec")
    val cents = Similarity.kmeansCodebook(corpus, "vec", "id", k = 2, iters = 2)
    assert(cents.size === 2)
    assert(cents.forall(_._2.length === 4),
      "means must come only from well-formed vectors")
  }

  test("mmrRerank diversifies: the near-duplicate of the top pick defers") {
    import spark.implicits._
    // 10 and 11 are near-identical and most relevant; 20 is orthogonal
    // with lower relevance. Pure relevance order: 10, 11, 20. MMR must
    // pick 10, then 20 (11's sim-to-10 penalty sinks it), then 11.
    val cands = Seq(
      (10L, 0.99, Seq(1.0f, 0.0f, 0.0f)),
      (11L, 0.98, Seq(0.999f, 0.04f, 0.0f)),
      (20L, 0.60, Seq(0.0f, 1.0f, 0.0f))).toDF("id", "rel", "vec")
    val out = Similarity.mmrRerank(spark, cands, "id", "rel", "vec", k = 3)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(10L, 20L, 11L))
    // stage scores: rank1 = 0.5*rel; later = 0.5*rel - 0.5*maxsim
    assert(out(0).getDouble(2) === 0.5 * 0.99)
    val sim2010 = 0.0 // orthogonal
    assert(out(1).getDouble(2) === 0.5 * 0.60 - 0.5 * sim2010)
    assert(out(2).getDouble(2) < 0.5 * 0.98 - 0.4,
      "the near-duplicate must carry a large similarity penalty")
    // ties break on id: two identical candidates pick the smaller first
    val tied = Seq(
      (5L, 0.9, Seq(1.0f, 0.0f)), (3L, 0.9, Seq(1.0f, 0.0f)))
      .toDF("id", "rel", "vec")
    val t = Similarity.mmrRerank(spark, tied, "id", "rel", "vec", k = 2)
      .orderBy("mmr_rank").collect()
    assert(t.map(_.getLong(0)).toSeq === Seq(3L, 5L))
    // k beyond the list returns the whole list; the corpus-cap guard fires
    assert(Similarity.mmrRerank(spark, tied, "id", "rel", "vec", k = 99)
      .count() === 2)
    // a NEGATIVE max-similarity is a bonus, never clamped at zero
    val anti = Seq(
      (1L, 0.9, Seq(1.0f, 0.0f)), (2L, 0.1, Seq(-1.0f, 0.0f)))
      .toDF("id", "rel", "vec")
    val a = Similarity.mmrRerank(spark, anti, "id", "rel", "vec", k = 2)
      .orderBy("mmr_rank").collect()
    assert(a(1).getDouble(2) === 0.5 * 0.1 - 0.5 * -1.0)
    val big = (0L until 50L).map(i => (i, 0.5, Seq(i.toFloat))).toDF("id", "rel", "vec")
    val ex = intercept[IllegalArgumentException] {
      Similarity.mmrRerank(spark, big, "id", "rel", "vec", k = 2,
        maxCandidates = 10)
    }
    assert(ex.getMessage.contains("bounded candidate list"))
  }

  test("lateInteractionTopK: MaxSim finds the slice-level match pooled cosine misses") {
    import spark.implicits._
    // both query slices probe [1,0]. doc 1 carries a PERFECT [1,0]
    // region (its other half orthogonal); doc 2 is a mediocre match
    // everywhere. Pooled cosine prefers doc 2 (0.707 vs 0.5); MaxSim
    // prefers doc 1 (each query slice finds the perfect region: 2.0
    // vs sqrt(2)) — the point of late interaction.
    val q = Seq((100L, Seq(1f, 0f, 1f, 0f))).toDF("id", "vec")
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 1f)),
      (2L, Seq(1f, 1f, 1f, 1f)))
      .toDF("id", "vec")
    val out = Similarity.lateInteractionTopK(corpus, q, "vec", "id",
        m = 2, dim = 4, k = 2)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(out.map(_._2).toSeq === Seq(1L, 2L))
    assert(out(0)._3 === 2.0)
    assert(math.abs(out(1)._3 - math.sqrt(2.0)) < 1e-12)
    val pooled = Similarity.bruteForceTopK(corpus, q, "vec", "id", k = 2)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(pooled.map(_._2).toSeq === Seq(2L, 1L),
      "pooled cosine must prefer the mediocre all-over match here")
    // subVectors guard
    val ex = intercept[IllegalArgumentException] {
      Similarity.subVectors(col("vec"), 3, 4)
    }
    assert(ex.getMessage.contains("divide"))
  }

  test("knnClassify: majority vote, deterministic tie on the smaller label") {
    import spark.implicits._
    graft.plans.CosineSimilarity.register(spark)
    val corpus = Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(0.9f, 0.1f)),
      (3L, 1, Seq(0f, 1f)), (4L, 1, Seq(0.1f, 0.9f)),
      (10L, 0, Seq(0.95f, 0.05f)),   // clear label-0 neighborhood
      (11L, 1, Seq(0.5f, 0.5f)))     // exactly between: 1 vote each at k=2
      .toDF("id", "label", "vec")
    val out = Similarity.knnClassify(corpus, "vec", "id", "label",
        corpus.where(col("id") >= 10L), k = 2, native = true)
      .orderBy("query_id")
      .as[(Long, Int, Int, Int)].collect().toSeq
    assert(out === Seq(
      (10L, 0, 0, 1),   // both neighbors label 0
      (11L, 1, 0, 0)))  // 1-1 tie -> smaller label 0, a miss
  }

  test("labelCentroidOutliers: exact centroid, hand-computed scores") {
    import spark.implicits._
    val e = Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(0f, 1f)),   // centroid (.5, .5)
      (3L, 1, Seq(1f, 0f)))                         // centroid (1, 0)
      .toDF("id", "label", "vec")
    val out = Similarity.labelCentroidOutliers(e, "vec", "id", "label",
        minCos = 0.8)
      .orderBy("id").as[(Long, Int, Long, Int)].collect().toSeq
    val c = math.floor(1.0 / math.sqrt(2.0) * 1e6).toLong // cos to (.5,.5)
    assert(out === Seq((1L, 0, c, 1), (2L, 0, c, 1), (3L, 1, 1000000L, 0)))
  }

  test("labelPairCosines: hand-computed within/across means, exact micros") {
    import spark.implicits._
    graft.plans.CosineSimilarity.register(spark)
    val e = Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(1f, 0f)),
      (3L, 1, Seq(0f, 1f)), (4L, 1, Seq(0f, 1f)))
      .toDF("id", "label", "vec")
    val out = Similarity.labelPairCosines(e, "vec", "id", "label",
        native = true)
      .orderBy("label_a", "label_b")
      .as[(Int, Int, Long, Long, Int)].collect().toSeq
    assert(out === Seq(
      (0, 0, 1L, 1000000L, 1),
      (0, 1, 4L, 0L, 0),
      (1, 1, 1L, 1000000L, 1)))
  }

  test("labelPairCosines: maxRows guard fails fast on oversized input") {
    import spark.implicits._
    val big = spark.range(5).select(col("id"), lit(0).as("label"),
      array(lit(1f), lit(0f)).as("vec"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.labelPairCosines(big, "vec", "id", "label", maxRows = 4)
    }
    assert(ex.getMessage.contains("all-pairs"))
    // at exactly the cap the diagnostic still runs
    assert(Similarity.labelPairCosines(big, "vec", "id", "label",
      maxRows = 5).count() === 1L)
  }

  test("recallAtK: hand-computed per-query and mean rows, missing query = 0") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "id")
    val ann = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "id") // query 3 entirely missed
    val out = Similarity.recallAtK(ann, truth, "query_id", "id", k = 2)
      .orderBy("query_id").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (-1L, 3L, 500000L),     // mean: 3 hits / (2 × 3 queries)
      (1L, 1L, 500000L),
      (2L, 2L, 1000000L),
      (3L, 0L, 0L)))
  }

  test("recallAtK on the ANN ladder: LSH recall is within (0, 1] and real") {
    graft.plans.CosineSimilarity.register(spark)
    val truth = Similarity.bruteForceTopK(embs, queries, "embedding",
      "vec_id", 10)
    val lsh = Similarity.lshTopK(embs, queries, "embedding", "vec_id",
      k = 10, dim = 64, nBits = 8, multiProbe = 2)
    val rep = Similarity.recallAtK(lsh, truth, "query_id", "id", k = 10)
    val mean = rep.where(col("query_id") === -1L).head()
    assert(mean.getLong(2) > 0L && mean.getLong(2) <= 1000000L)
    assert(rep.count() === 11L) // 10 queries + the mean row
  }

  test("randomProject: null vector propagates null (not empty array)") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val df = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("id", "vec")
    val got = df.select(col("id"),
        VectorFunctions.randomProject(col("vec"), 2).as("p"))
      .orderBy("id").collect()
    assert(!got(0).isNullAt(1))
    assert(got(1).isNullAt(1), "null input must project to null")
  }

  test("quantilePrune: null group and null score rows still get a kept flag") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("en"), Some(10L)), (2L, Some("en"), Some(5L)),
      (3L, None: Option[String], Some(7L)),   // null group
      (4L, Some("en"), None: Option[Long]))   // null score
      .toDF("doc_id", "lang", "score")
    val out = CorpusPrep.quantilePrune(df, "lang", "score", "doc_id",
      keepFrac = 0.5, ascending = false)
    // the auditable-gate contract: EVERY input row returns with a flag
    assert(out.count() === 4L)
    assert(out.where(col("kept").isNull).count() === 0L)
  }

  test("dimStats: exact fixed-point mins/maxes/sums, ragged lengths") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.25f, 2.0f)),
      (2L, Seq(1.5f, 0.75f)),          // shorter vector: dim 2 has n=2
      (3L, Seq(-0.5f, 0.25f, 1.0f))).toDF("id", "vec")
    val out = Similarity.dimStats(df, "vec").orderBy("dim_idx")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0, 3L, -500000L, 1500000L, 1500000L),
      (1, 3L, -1250000L, 750000L, -250000L),
      (2, 2L, 1000000L, 2000000L, 3000000L)))
  }

  test("l2Normalize: exact values, zero and empty vectors") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, Seq.empty[Float])).toDF("id", "vec")
    val got = df.select(col("id"), VectorFunctions.l2Normalize(col("vec")))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) === Seq(0.6, 0.8))     // 3-4-5 triangle: exact
    assert(got(2L) === Seq(0.0, 0.0))
    assert(got(3L) === Seq.empty[Double])
  }

  test("randomProject: exact Scala-reference parity, JL distortion, map-side") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    // NOT sin(i*24+j): that family spans a rank-2 subspace (angle-sum
    // identity) and says nothing about distortion; square the phase for
    // a full-rank fixture
    val vecs = (0L until 60L).map { i =>
      (i, Seq.tabulate(24) { j =>
        val t = (i * 24 + j + 1).toDouble
        math.sin(t * t * 0.7).toFloat
      })
    }
    val df = vecs.toDF("id", "vec")
    val outDim = 8
    val got = df.select(col("id"),
        VectorFunctions.randomProject(col("vec"), outDim).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    // reference: same hash rule, same sequential fold, same division
    def signRef(i: Int, j: Int): Double =
      if ((((i.toLong * 131 + j) * 2654435761L + 104729L) % 1000000007L)
          % 2 == 0) -1.0 else 1.0
    val want = vecs.map { case (id, v) =>
      id -> (0 until outDim).map { j =>
        var acc = 0.0
        for (i <- v.indices) acc += signRef(i, j) * v(i).toDouble
        acc / math.sqrt(outDim.toDouble)
      }
    }.toMap
    vecs.foreach { case (id, _) =>
      assert(got(id) === want(id), s"vector $id") }
    // JL property: mean pairwise distance ratio near 1 on the fixture
    def l2(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val orig = vecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val ratios = for (x <- 0L until 20L; y <- (x + 1) until 20L) yield
      l2(got(x), got(y)) / l2(orig(x), orig(y))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean distortion $mean")
    // empty vector -> empty projection; map-side only
    val empty = Seq((1L, Seq.empty[Float])).toDF("id", "vec")
      .select(VectorFunctions.randomProject(col("vec"), 4)).head().getSeq[Double](0)
    assert(empty.isEmpty)
    val plan = df.select(VectorFunctions.randomProject(col("vec"), 4))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must be map-side:\n$plan")
  }
}
