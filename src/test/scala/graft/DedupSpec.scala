package graft
// (editDistancePairs lanes live at the bottom of this suite)

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.functions.TextFunctions

/** Dedup operator semantics against exact in-memory oracles. */
class DedupSpec extends SparkSpec {

  private def corpus(): DataFrame = {
    val s = spark; import s.implicits._
    val baseText = "the quick brown fox jumps over the lazy dog near the river bank " +
      "while birds sing in the morning light and the wind moves through tall grass"
    Seq(
      (0L, baseText),
      (1L, baseText),                                       // exact dup of 0
      (2L, baseText.replace("quick", "slow")),              // near dup of 0
      (3L, baseText.replace("morning light", "evening dark")), // near dup
      (4L, "completely different content about spark query engines and " +
        "columnar storage formats with vectorized execution and code generation"),
      (5L, "THE  Quick Brown   fox jumps over the lazy dog near the river bank " +
        "while birds sing in the morning light and the wind moves through tall grass") // ws/case dup of 0
    ).toDF("doc_id", "text")
  }

  private def wordShingles(text: String, k: Int): Set[String] =
    text.trim.toLowerCase.split("\\s+").toSeq match {
      case toks if toks.size <= k => Set(toks.mkString(" "))
      case toks => toks.sliding(k).map(_.mkString(" ")).toSet
    }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size

  test("exact dedup keeps lowest doc_id per normalized fingerprint") {
    val kept = Dedup.exact(corpus(), "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 is an exact dup of 0; 5 is a case/whitespace dup of 0 — the
    // lowercase+whitespace normalization removes both
    assert(kept === Set(0L, 2L, 3L, 4L))
  }

  test("minhash estimate tracks exact shingle jaccard (32 hashes → ±0.3)") {
    val docs = corpus()
    val pairs = Dedup.minHashPairs(docs, "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.0).collect()
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b, est) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      // note: Spark lowercases in shingles? shingles() does not lowercase;
      // oracle must match the operator: tokens of raw text
      val exact = jaccard(
        wordShinglesRaw(texts(a), 3), wordShinglesRaw(texts(b), 3))
      assert(math.abs(est - exact) <= 0.3,
        s"pair ($a,$b): est=$est exact=$exact")
    }
    // identical docs must collide with estimate 1.0
    val e01 = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(e01.isDefined && e01.get.getDouble(2) === 1.0)
  }

  private def wordShinglesRaw(text: String, k: Int): Set[String] =
    text.trim.split("\\s+").toSeq match {
      case toks if toks.size <= k => Set(toks.mkString(" "))
      case toks => toks.sliding(k).map(_.mkString(" ")).toSet
    }

  test("simhash: identical texts have distance 0, near-dups small, unrelated large") {
    val s = spark; import s.implicits._
    val df = corpus().select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(m(a) ^ m(b))
    assert(ham(0, 1) === 0)
    assert(ham(0, 5) === 0)          // normalization: lowercased tokens
    assert(ham(0, 2) <= 16)          // one word changed
    assert(ham(0, 4) > 16)           // unrelated
  }

  test("simHashPairs finds the near-dup cluster") {
    val got = Dedup.simHashPairs(corpus(), "text", "doc_id", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))
    assert(got.contains((0L, 5L)))
    assert(!got.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("hot-bucket guard: degenerate bucket is capped, surfaced, deterministic; healthy corpus untouched") {
    val s = spark; import s.implicits._
    // 40 identical docs: every band maps them to ONE (band,bucket) of
    // width 40 — the planted degenerate bucket — plus two normal docs
    val boiler = "buy now limited offer click here best price free shipping " +
      "act fast deal ends soon subscribe today"
    val docs = ((0L until 40L).map(i => (i, boiler)) ++ Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river"),
      (101L, "columnar storage formats with vectorized execution engines"))).toDF("doc_id", "text")

    val uncapped = Dedup.minHashPairs(docs, "text", "doc_id", threshold = 0.5)
    assert(uncapped.count() === 40L * 39 / 2, "uncapped is quadratic in the bucket")

    val cap = 8
    val (pairs, overflow) = Dedup.minHashPairsCapped(docs, "text", "doc_id",
      maxBucketWidth = cap, threshold = 0.5)
    val n = pairs.count()
    assert(n > 0 && n < 40L * 39 / 2, s"capped pair count $n must be bounded below quadratic")
    // the overflow receipt names every capped bucket with its true width
    val ov = overflow.collect()
    assert(ov.nonEmpty, "cap must not be silent")
    ov.foreach { r =>
      assert(r.getAs[Long]("bucket_width") === 40L)
      assert(r.getAs[Long]("dropped_est") === 40L - cap)
    }
    // deterministic: the hash-draw survivors are a pure function of ids
    val (pairs2, _) = Dedup.minHashPairsCapped(docs, "text", "doc_id",
      maxBucketWidth = cap, threshold = 0.5)
    assert(pairSet(pairs2) === pairSet(pairs))
    // a cap above every bucket width is a no-op with an empty receipt
    val (pairsWide, ovWide) = Dedup.minHashPairsCapped(docs, "text", "doc_id",
      maxBucketWidth = 1000, threshold = 0.5)
    assert(pairSet(pairsWide) === pairSet(uncapped))
    assert(ovWide.isEmpty)

    // same guard on the simhash chunk lane
    val (shPairs, shOv) = Dedup.simHashPairsCapped(docs, "text", "doc_id",
      maxBucketWidth = cap, maxHamming = 3)
    assert(shPairs.count() < 40L * 39 / 2)
    assert(shOv.collect().forall(_.getAs[Long]("bucket_width") === 40L))
    assert(shOv.count() > 0)
  }

  test("ngram jaccard: identical = 1.0, matches exact set computation") {
    val s = spark; import s.implicits._
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(corpus(), pairs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val texts = corpus().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] = {
      val lt = t.toLowerCase
      if (lt.length <= 3) Set(lt) else lt.sliding(3).toSet
    }
    assert(got((0L, 1L)) === 1.0)
    for (p <- Seq((0L, 2L), (0L, 4L))) {
      val exact = jaccard(grams(texts(p._1)), grams(texts(p._2)))
      assert(math.abs(got(p) - exact) < 1e-9, s"$p: ${got(p)} vs $exact")
    }
  }

  test("embedding near-dup finds identical and near-identical vectors") {
    val s = spark; import s.implicits._
    val v = (0 until 16).map(i => math.sin(i * 1.7).toFloat).toArray
    val vNear = v.clone(); vNear(0) = vNear(0) + 0.001f
    val vFar = (0 until 16).map(i => math.cos(i * 9.1).toFloat).toArray
    val df = Seq((0L, v), (1L, v), (2L, vNear), (3L, vFar))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      dim = 16, threshold = 0.999, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))
    assert(got.contains((0L, 2L)))
    assert(!got.exists { case (a, b) => b == 3L })
  }

  test("embedding hot-bucket guard: near-identical cluster is capped, surfaced, deterministic") {
    val s = spark; import s.implicits._
    // 40 near-identical embeddings: they land on the same side of every
    // hyperplane → ONE (table, bucket) of width 40, the planted degenerate
    // cluster (a padded/zero-vector slice at 100 TB); plus two normal vecs
    val base = (0 until 16).map(i => math.sin(i * 1.7).toFloat).toArray
    def jig(i: Int): Array[Float] = {
      val v = base.clone(); v(0) = v(0) + i * 1e-5f; v
    }
    val far1 = (0 until 16).map(i => math.cos(i * 9.1).toFloat).toArray
    val far2 = (0 until 16).map(i => math.sin(i * 5.3 + 1).toFloat).toArray
    val df = ((0L until 40L).map(i => (i, jig(i.toInt))) ++
      Seq((100L, far1), (101L, far2))).toDF("vec_id", "embedding")

    val uncapped = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      dim = 16, threshold = 0.999, nBits = 4)
    assert(uncapped.count() === 40L * 39 / 2, "uncapped is quadratic in the bucket")

    val cap = 8
    val (pairs, overflow) = Dedup.embeddingNearDupCapped(df, "embedding",
      "vec_id", dim = 16, maxBucketWidth = cap, threshold = 0.999, nBits = 4)
    val n = pairs.count()
    assert(n > 0 && n < 40L * 39 / 2, s"capped pair count $n must be bounded below quadratic")
    // the overflow receipt names the capped bucket with its true width
    val ov = overflow.collect()
    assert(ov.nonEmpty, "cap must not be silent")
    ov.foreach { r =>
      assert(r.getAs[Long]("bucket_width") === 40L)
      assert(r.getAs[Long]("dropped_est") === 40L - cap)
    }
    // deterministic: the hash-draw survivors are a pure function of ids
    val (pairs2, _) = Dedup.embeddingNearDupCapped(df, "embedding",
      "vec_id", dim = 16, maxBucketWidth = cap, threshold = 0.999, nBits = 4)
    assert(pairSet(pairs2) === pairSet(pairs))
    // a cap above every bucket width is a no-op with an empty receipt
    val (pairsWide, ovWide) = Dedup.embeddingNearDupCapped(df, "embedding",
      "vec_id", dim = 16, maxBucketWidth = 1000, threshold = 0.999, nBits = 4)
    assert(pairSet(pairsWide) === pairSet(uncapped))
    assert(ovWide.isEmpty)
  }

  test("components: min-label propagation finds transitive clusters") {
    val s = spark; import s.implicits._
    // chain 1-2-3 (transitive through 2), pair 5-6, 9 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    val docs = (1L to 9L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L, 7L, 8L, 9L))
  }

  test("components handles an empty pair list") {
    val s = spark; import s.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.components(pairs).isEmpty)
    val docs = (1L to 3L).map(i => (i, "x")).toDF("doc_id", "text")
    assert(Dedup.keepCanonical(docs, "doc_id", pairs).count() === 3)
  }

  test("keepCanonical over minhash pairs dedups the documents fixture deterministically") {
    val docs = Tables.documents(spark, sf())
    graft.plans.MinHashSignature.register(spark)
    val pairs = Dedup.minHashPairs(docs, "text", "doc_id", threshold = 0.5, native = true)
    val kept1 = Dedup.keepCanonical(docs, "doc_id", pairs)
    val kept2 = Dedup.keepCanonical(docs, "doc_id", pairs)
    assert(kept1.count() === kept2.count())
    assert(kept1.count() <= docs.count())
    // canonical members are exactly one per component plus untouched docs
    val nComp = Dedup.components(pairs).select("comp").distinct().count()
    val nPaired = Dedup.components(pairs).count()
    assert(kept1.count() === docs.count() - nPaired + nComp)
  }

  test("duplicatedNgramStats counts cross-document repeated shingles") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (0L, "a b c d e f"),        // 2 distinct 5-shingles, first shared w/ doc 1
      (1L, "a b c d e x"),        // shares 'a b c d e' with doc 0
      (2L, "p q r s t u v"),      // 3 shingles, none shared
      (3L, "short one"),          // n<=k whole-text shingle, unique
      (4L, "short one")           // identical whole-text shingle → dup
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedNgramStats(docs, "text", "doc_id", k = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Array(
      (0L, 2L, 1L), (1L, 2L, 1L), (2L, 3L, 0L), (3L, 1L, 1L), (4L, 1L, 1L)))
  }

  test("semanticNearDup finds cross-cell pairs via soft 2-nearest assignment") {
    val embs = Tables.embeddings(spark, sf())
    // ground truth: complete exact pairs at the fixture's near-dup level
    val e = embs.select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.cosine(col("va"), col("vb")).as("c"))
      .where(col("c") >= 0.45)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.semanticNearDup(embs, "embedding", "vec_id",
      threshold = 0.45, nCentroids = 8, kmeansIters = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), "cluster-bucketed pairs are exact-cosine verified")
    assert(exact.nonEmpty)
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall below the q96 bound (found ${sem.size}/${exact.size})")
    // determinism: the codebook is seeded + RNG-free, so rerun is identical
    val rerun = Dedup.semanticNearDup(embs, "embedding", "vec_id",
      threshold = 0.45, nCentroids = 8, kmeansIters = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rerun === sem)
  }

  test("fingerprints: normalized is ws/case-insensitive, rolling is order-sensitive") {
    val s = spark; import s.implicits._
    val df = Seq(
      (0L, "Alpha  Beta gamma"), (1L, "alpha beta GAMMA"), (2L, "gamma beta alpha"))
      .toDF("id", "t")
      .select(col("id"),
        TextFunctions.normalizedFingerprint(col("t")).as("nf"),
        TextFunctions.rollingFingerprint(col("t")).as("rf"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(0L)._1 === rows(1L)._1)   // normalization collapses ws/case
    assert(rows(0L)._1 !== rows(2L)._1)   // different word order → different md5
    assert(rows(0L)._2 === rows(1L)._2)
    assert(rows(0L)._2 !== rows(2L)._2)   // rolling hash is order-sensitive
  }

  // ------------------------------------------------------------------
  // incremental dedup against the persisted LSH index
  // ------------------------------------------------------------------

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental dedup refuses a pairs sink on the seeding path") {
    val root = java.nio.file.Files.createTempDirectory("graft-incdd-sink").toString + "/idx"
    val e = intercept[IllegalArgumentException](
      Dedup.dedupIncremental(root, corpus(), "text", "doc_id",
        emitPairs = false, pairsSink = Some(_ => ())))
    assert(e.getMessage.contains("emitPairs"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root)),
      "nothing may be committed")
  }

  test("incremental dedup: a failing sink is suppressed under the failing commit") {
    // the index root sits under a regular file, so the commit cannot
    // create it; the sink fails on its own
    val blocker = java.nio.file.Files.createTempFile("graft-incdd", ".blk")
    val sinkError = new IllegalStateException("sink failed")
    val e = intercept[Throwable](
      Dedup.dedupIncremental(s"$blocker/idx", corpus(), "text", "doc_id",
        bands = 16, rowsPerBand = 2,
        pairsSink = Some(_ => throw sinkError)))
    assert(e ne sinkError, "the sink's failure replaced the commit's")
    assert(e.getSuppressed.contains(sinkError), e.toString)
  }

  test("incremental dedup == batch LSH on the union, restricted to new-touching pairs") {
    val docs = corpus()
    val oldDocs = docs.where(col("doc_id") % 2 === 0) // 0, 2, 4
    val newDocs = docs.where(col("doc_id") % 2 === 1) // 1, 3, 5
    val root = java.nio.file.Files.createTempDirectory("graft-incdd").toString + "/idx"

    // seed the index from the old corpus (its own "first ingest")
    val first = Dedup.dedupIncremental(root, oldDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = 0.5)
    // probe + extend with the new batch
    val second = Dedup.dedupIncremental(root, newDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = 0.5)
    assert(second.indexVersion === 0L, "second ingest commits index v0")

    val batch = Dedup.minHashPairs(docs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = 0.5)
    val newIds = Set(1L, 3L, 5L)
    val expected = pairSet(batch).filter { case (a, b) =>
      newIds(a) || newIds(b) }
    assert(pairSet(second.pairs) === expected,
      "incremental must find exactly the batch-LSH pairs touching new docs")
    // the known dups of doc 0 are among them (exact + ws/case dup)
    assert(pairSet(second.pairs).contains((0L, 1L)))
    assert(pairSet(second.pairs).contains((0L, 5L)))
    // est_jaccard of the exact dup is 1.0 (identical signatures)
    val j01 = second.pairs.where(col("id_a") === 0L && col("id_b") === 1L)
      .head().getDouble(2)
    assert(j01 === 1.0)
  }

  test("emitPairs=false seed: empty pair stream, identical committed index") {
    val docs = corpus()
    val oldDocs = docs.where(col("doc_id") % 2 === 0)
    val newDocs = docs.where(col("doc_id") % 2 === 1)
    val work = java.nio.file.Files.createTempDirectory("graft-incdd0").toString
    val (rootA, rootB) = (s"$work/a", s"$work/b")

    val seedA = Dedup.dedupIncremental(rootA, oldDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = 0.5)
    val seedB = Dedup.dedupIncremental(rootB, oldDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = 0.5, emitPairs = false)
    assert(seedB.pairs.isEmpty, "emitPairs=false must emit no pairs")
    assert(seedB.pairs.columns.toSeq ===
      Seq("id_a", "id_b", "est_jaccard"), "schema is preserved")
    assert(seedB.overflow.isEmpty)
    assert(seedB.indexVersion === seedA.indexVersion)
    // the committed index is byte-equal in content: same rows
    val ia = spark.read.format("graft").load(rootA)
      .select(col("idx_key")).collect().map(_.getString(0)).sorted
    val ib = spark.read.format("graft").load(rootB)
      .select(col("idx_key")).collect().map(_.getString(0)).sorted
    assert(ia.toSeq === ib.toSeq, "seeded index content identical")
    // and a later probe over the pair-free seed finds the same pairs
    val pA = Dedup.dedupIncremental(rootA, newDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = 0.5)
    val pB = Dedup.dedupIncremental(rootB, newDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, threshold = 0.5)
    assert(pairSet(pA.pairs) === pairSet(pB.pairs))
  }

  test("incremental re-ingest is idempotent; the index is versioned graft state") {
    val docs = corpus()
    val root = java.nio.file.Files.createTempDirectory("graft-incdd2").toString + "/idx"
    val r1 = Dedup.dedupIncremental(root, docs.where(col("doc_id") < 3),
      "text", "doc_id", bands = 16, rowsPerBand = 2)
    // first ingest: no index existed — only batch-internal pairs
    assert(pairSet(r1.pairs).forall { case (a, b) => a < 3 && b < 3 })

    val idx1 = spark.read.format("graft").load(root)
    val n1 = idx1.count()
    assert(n1 === 3 * 16, "one index row per (doc, band)")

    // re-ingesting the same batch upserts the same idx_keys: row count
    // unchanged, and its corpus-probe re-finds the pairs (minus self)
    val r2 = Dedup.dedupIncremental(root, docs.where(col("doc_id") < 3),
      "text", "doc_id", bands = 16, rowsPerBand = 2)
    assert(r2.indexVersion === 0L)
    assert(spark.read.format("graft").load(root).count() === n1)

    // a later batch probes ACROSS ingests
    val r3 = Dedup.dedupIncremental(root, docs.where(col("doc_id") === 5L),
      "text", "doc_id", bands = 16, rowsPerBand = 2)
    assert(pairSet(r3.pairs).contains((0L, 5L)),
      "cross-ingest near-dup must surface from the persisted index")
    assert(spark.read.format("graft").load(root).count() === n1 + 16)
  }

  test("incremental Hamming dedup == batch hammingPairs on the union, restricted to new-touching pairs") {
    val s = spark; import s.implicits._
    // 64-bit fingerprints with planted near-dups: 10/11 identical,
    // 12 at distance 1 from 10, 20/21 identical in the new batch,
    // 30/31/32 mutually far
    def fp(bits: Long*) = bits.foldLeft(0L)((a, b) => a | (1L << b))
    val all = Seq(
      10L -> fp(1, 5, 9, 40), 11L -> fp(1, 5, 9, 40),
      12L -> fp(1, 5, 9, 40, 63),
      20L -> fp(2, 22, 44), 21L -> fp(2, 22, 44),
      30L -> fp(0, 16, 32, 48), 31L -> fp(3, 19, 35, 51),
      32L -> fp(7, 23, 39, 55)).toDF("media_id", "dhash")
    val old = all.where(col("media_id") < 20L)
    val fresh = all.where(col("media_id") >= 20L)
    val root = java.nio.file.Files
      .createTempDirectory("graft-inchm").toString + "/idx"

    val r1 = Dedup.hammingIncremental(root, old, "media_id", "dhash",
      maxHamming = 1)
    assert(pairSet(r1.pairs) === Set((10L, 11L), (10L, 12L), (11L, 12L)),
      "first ingest finds the batch-internal pairs")

    val r2 = Dedup.hammingIncremental(root, fresh, "media_id", "dhash",
      maxHamming = 1)
    assert(r2.indexVersion === 0L, "second ingest commits index v0")
    // equivalence: batch hammingPairs over the union, restricted to
    // pairs touching a new id
    val union = Dedup.hammingPairs(all, "media_id", "dhash", maxHamming = 1)
    val newIds = Set(20L, 21L, 30L, 31L, 32L)
    val expected = pairSet(union).filter { case (a, b) =>
      newIds(a) || newIds(b) }
    assert(pairSet(r2.pairs) === expected)
    assert(pairSet(r2.pairs) === Set((20L, 21L)),
      "the new batch's only near-dup is its internal identical pair")

    // a later single-item ingest probes ACROSS ingests at distance 1
    val r3 = Dedup.hammingIncremental(root,
      Seq(40L -> fp(1, 5, 9)).toDF("media_id", "dhash"),
      "media_id", "dhash", maxHamming = 1)
    assert(pairSet(r3.pairs) === Set((10L, 40L), (11L, 40L)),
      "cross-ingest Hamming-1 neighbors surface from the persisted index")
    // hamming values are exact
    assert(r3.pairs.collect().forall(_.getInt(2) === 1))

    // dry-run probe (extendIndex = false) leaves the index untouched
    val before = spark.read.format("graft").load(root).count()
    val r4 = Dedup.hammingIncremental(root,
      Seq(41L -> fp(1, 5, 9)).toDF("media_id", "dhash"),
      "media_id", "dhash", maxHamming = 1, extendIndex = false)
    assert(pairSet(r4.pairs).contains((40L, 41L)))
    assert(spark.read.format("graft").load(root).count() === before)
  }

  test("probe layout: the probe prunes index FILES (strict subset), pairs parity with ingest layout") {
    val s = spark; import s.implicits._
    // 2000 fingerprints spread across the chunk space (distinct high/low
    // chunks per id), plus one planted near-dup target
    val fps = (0L until 2000L).map(i => i -> (i * 2654435761L)).toDF("media_id", "dhash")
    val probeFp = Seq(9999L -> (7L * 2654435761L)).toDF("media_id", "dhash")

    val rootP = java.nio.file.Files
      .createTempDirectory("graft-probe").toString + "/idx"
    val rootI = java.nio.file.Files
      .createTempDirectory("graft-ingest").toString + "/idx"
    Dedup.hammingIncremental(rootP, fps, "media_id", "dhash",
      maxHamming = 1, probeLayout = true, indexFiles = 16)
    Dedup.hammingIncremental(rootI, fps, "media_id", "dhash",
      maxHamming = 1, indexFiles = 16)

    val snapP = graft.streaming.CdcMergeSink.latestSnapshot(rootP)
    import graft.sources.MutableParquetTable
    // the probe layout committed dim zone maps on the banding columns
    assert(MutableParquetTable.manifestDimRanges(snapP).keySet
      .intersect(Set("band", "chunk")) === Set("band", "chunk"))
    val totalP = MutableParquetTable.manifestFileNames(snapP).get.size
    assert(totalP > 4, s"need a multi-file index to prove pruning, got $totalP")

    // dry-run probe against each layout: identical pairs...
    val rP = Dedup.hammingIncremental(rootP, probeFp, "media_id", "dhash",
      maxHamming = 1, extendIndex = false)
    val probeScanned = graft.sources.GraftSource.lastScanFiles.size
    val rI = Dedup.hammingIncremental(rootI, probeFp, "media_id", "dhash",
      maxHamming = 1, extendIndex = false)
    val ingestScanned = graft.sources.GraftSource.lastScanFiles.size
    assert(pairSet(rP.pairs) === pairSet(rI.pairs),
      "results must be layout-independent")
    assert(pairSet(rP.pairs) === Set((7L, 9999L)))
    // ...but the probe layout reads a strict subset of the index files
    // while the ingest layout scans all of them
    assert(ingestScanned === MutableParquetTable
      .manifestFileNames(graft.streaming.CdcMergeSink.latestSnapshot(rootI))
      .get.size, "ingest layout probe is a full index scan")
    assert(probeScanned < totalP,
      s"probe layout must file-prune: scanned $probeScanned of $totalP")

    // the dim zone maps survive a later ingest (merge carries + resweeps)
    Dedup.hammingIncremental(rootP,
      Seq(10000L -> 12345L).toDF("media_id", "dhash"),
      "media_id", "dhash", maxHamming = 1, probeLayout = true)
    val snapP2 = graft.streaming.CdcMergeSink.latestSnapshot(rootP)
    assert(snapP2 !== snapP)
    assert(MutableParquetTable.manifestDimRanges(snapP2).keySet
      .intersect(Set("band", "chunk")) === Set("band", "chunk"),
      "dim zone maps must carry through index merges")
  }

  test("minhash probe layout: dim maps committed, pairs parity with ingest layout") {
    val docs = corpus()
    val oldDocs = docs.where(col("doc_id") % 2 === 0)
    val newDocs = docs.where(col("doc_id") % 2 === 1)
    val rootP = java.nio.file.Files
      .createTempDirectory("graft-mh-probe").toString + "/idx"
    val rootI = java.nio.file.Files
      .createTempDirectory("graft-mh-ingest").toString + "/idx"
    Dedup.dedupIncremental(rootP, oldDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, probeLayout = true)
    Dedup.dedupIncremental(rootI, oldDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2)
    import graft.sources.MutableParquetTable
    val snapP = graft.streaming.CdcMergeSink.latestSnapshot(rootP)
    assert(MutableParquetTable.manifestDimRanges(snapP).keySet
      .intersect(Set("band", "bucket")) === Set("band", "bucket"),
      "probe layout must commit dim zone maps on (band, bucket)")
    assert(MutableParquetTable
      .manifestDimRanges(graft.streaming.CdcMergeSink.latestSnapshot(rootI))
      .isEmpty, "ingest layout carries no dim maps")
    // the probe finds identical pairs through either layout (the static
    // In-prune is a superset restriction; the semi join restores
    // exactness)
    val rP = Dedup.dedupIncremental(rootP, newDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, extendIndex = false)
    val rI = Dedup.dedupIncremental(rootI, newDocs, "text", "doc_id",
      bands = 16, rowsPerBand = 2, extendIndex = false)
    assert(pairSet(rP.pairs) === pairSet(rI.pairs))
    assert(pairSet(rP.pairs).contains((0L, 1L)),
      "the known exact dup must surface through the probe layout")
  }

  test("incremental batch self-join cap: degenerate batch completes, overflow surfaced, healthy batch untouched") {
    val s = spark; import s.implicits._
    // degenerate batch: 64 solid-color thumbnails all hashing 0L — the
    // uncapped self-join is quadratic in one (band, chunk) task
    val degenerate = (0L until 64L).map(i => i -> 0L).toDF("media_id", "dhash")
    val root = java.nio.file.Files
      .createTempDirectory("graft-degen").toString + "/idx"
    val r = Dedup.hammingIncremental(root, degenerate, "media_id", "dhash",
      maxHamming = 1, maxBucketWidth = Some(8))
    assert(r.overflow.isDefined, "cap requested -> receipt returned")
    val ov = r.overflow.get.collect()
    assert(ov.nonEmpty, "the degenerate bucket must be surfaced")
    assert(ov.forall(_.getAs[Long]("bucket_width") === 64L))
    // capped pairs exist but are bounded: ~8 survivors per band
    // (binomial draw) -> order 4 x C(8,2), nowhere near C(64,2) = 2016
    val n = r.pairs.count()
    assert(n > 0 && n <= 500L, s"capped pair count $n")
    // the COMMITTED index is never capped: every fingerprint persisted
    assert(spark.read.format("graft").load(root)
      .select("doc_id").distinct().count() === 64L)

    // healthy batch: cap is a no-op, receipt empty, pairs unchanged
    def fp(bits: Long*) = bits.foldLeft(0L)((a, b) => a | (1L << b))
    val healthy = Seq(1L -> fp(1, 5), 2L -> fp(1, 5), 3L -> fp(40, 60))
      .toDF("media_id", "dhash")
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-healthy").toString + "/idx"
    val rh = Dedup.hammingIncremental(root2, healthy, "media_id", "dhash",
      maxHamming = 1, maxBucketWidth = Some(8))
    assert(rh.overflow.get.isEmpty)
    assert(pairSet(rh.pairs) === Set((1L, 2L)))

    // the minhash twin: same guard through dedupIncremental
    val docs = (0L until 40L).map(i => i -> "the same exact text every time")
      .toDF("doc_id", "text")
    val root3 = java.nio.file.Files
      .createTempDirectory("graft-degen-mh").toString + "/idx"
    val rm = Dedup.dedupIncremental(root3, docs, "text", "doc_id",
      bands = 8, rowsPerBand = 4, maxBucketWidth = Some(4))
    assert(rm.overflow.get.count() > 0)
    assert(rm.pairs.count() > 0)
  }

  // ------------------------------------------------------------------
  // Bloom-filter membership
  // ------------------------------------------------------------------

  test("bloomMembership: no false negatives, sized false positives, merge across partitions") {
    val s = spark; import s.implicits._
    val corpus = (0L until 200L).map(i => s"key-$i").toDF("k")
      .repartition(8) // bitmap partials must merge across partitions
    val members = (0L until 200L).map(i => s"key-$i")
    val nonMembers = (0L until 200L).map(i => s"other-$i")
    val probes = (members ++ nonMembers).toDF("k")
    val got = graft.operators.Dedup
      .bloomMembership(corpus, "k", probes, "k",
        numBits = 1 << 18, numHashes = 4)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // every member hits — the structural no-false-negative guarantee
    members.foreach(k => assert(got(k) === 1, s"false negative on $k"))
    // at 800 set bits / 256 Kbit / 4 lanes the per-probe fp probability
    // is ~1e-10 — zero of 200 non-members may hit
    nonMembers.foreach(k => assert(got(k) === 0, s"false positive on $k"))
    // bitmap sizing contract
    intercept[IllegalArgumentException] {
      new graft.functions.Udx.BloomBitsAggregator(100)
    }
  }

  test("editDistancePairs: exact matches, blocking completeness, short fallback") {
    import spark.implicits._
    val rows = Seq(
      (1L, "wonderful spark engine"),   // base
      (2L, "wonderful spark enginX"),   // substitution, ed 1
      (3L, "wonderful spark enginee"),  // one insertion vs 1, ed 1
      (4L, "a completely different one"),
      (5L, "Wonderful Spark Engine"),   // case-folds to ed 0 vs 1
      (6L, "cat"), (7L, "cot"), (8L, "coats"),  // short-string fallback
      (9L, "elephantine"))
      .toDF("id", "txt")
    val got = graft.operators.Dedup
      .editDistancePairs(rows, "txt", "id", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 1L)
    assert(got((1L, 5L)) == 0L, "comparison is case-insensitive")
    assert(got((1L, 3L)) == 1L)
    assert(got((2L, 5L)) == 1L && got((3L, 5L)) == 1L)
    assert(got((2L, 3L)) == 2L, "substitution + insertion compose to 2")
    assert(got((6L, 7L)) == 1L, "short strings flow through the fallback")
    assert(got((7L, 8L)) == 2L)
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // the fallback guard fail-fasts instead of going quadratic
    intercept[IllegalArgumentException](graft.operators.Dedup
      .editDistancePairs(rows, "txt", "id", maxDist = 2,
        maxShortStrings = 1L).collect())
  }

  test("containmentJoin: subset pairs Jaccard misses; contained side named") {
    val s = spark; import s.implicits._
    val sets = Seq(
      (1L, Seq("a", "b", "c", "d")),                    // A ⊂ B
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "h")),
      (3L, Seq("x", "y", "z")),                          // disjoint
      (4L, Seq("a", "b", "q", "r")),                     // partial vs 1
      (5L, Seq("d", "c", "b", "a"))                      // == set 1
    ).toDF("id", "elems")
    val got = graft.operators.Dedup.containmentJoin(sets, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    // full containment both for the strict subset and the equal set;
    // the fragment (smaller set) is named, ties name the smaller id
    assert(got((1L, 2L)) === ((1.0, 1L)))
    assert(got((1L, 5L)) === ((1.0, 1L)))
    assert(got((2L, 5L)) === ((1.0, 5L)))
    assert(!got.contains((1L, 4L)), "2/4 overlap is below 0.9")
    assert(!got.keys.exists(p => p._1 == 3L || p._2 == 3L))
    // the motivating contrast: Jaccard at 0.6 structurally misses the
    // subset pair containment catches
    val j = graft.operators.Dedup.jaccardJoinExact(sets, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((1L, 2L)) && got.contains((1L, 2L)))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.containmentJoin(sets, 0.0))
  }

  test("containmentPairs: uncapped discovery EQUALS the exact join; " +
      "caps lose only receipted buckets") {
    val s = spark; import s.implicits._
    // pseudo-random sets + planted fragments: doc i gets elements
    // hash-drawn from a 40-element universe; every 7th doc also gets a
    // half-prefix fragment twin (the small-in-large population)
    val base = (0L until 60L).map { i =>
      val n = 4 + (i * 13 % 9).toInt
      (i, (0 until n).map(j => "e" + ((i * 31 + j * 17) % 40)).distinct)
    }
    val frags = base.collect { case (i, es) if i % 7 == 0 && es.size >= 4 =>
      (i + 1000L, es.take(es.size / 2 + 1))
    }
    val sets = (base ++ frags).toDF("id", "elems")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (math.rint(r.getDouble(2) * 1e9), r.getLong(3))).toMap
    for (t <- Seq(0.6, 0.9)) {
      val exact = pairSet(graft.operators.Dedup.containmentJoin(sets, t))
      val disc = pairSet(graft.operators.Dedup.containmentPairs(sets, t)._1)
      assert(disc === exact, s"uncapped discovery must equal exact at t=$t")
    }
    // a tight cap: result is a SUBSET of exact, and the overflow frame
    // lists the hot postings (the honesty receipt)
    val (capped, overflow) =
      graft.operators.Dedup.containmentPairs(sets, 0.9, maxPostingWidth = 2)
    val exact9 = pairSet(graft.operators.Dedup.containmentJoin(sets, 0.9))
    val cappedPairs = pairSet(capped)
    assert(cappedPairs.keySet.subsetOf(exact9.keySet))
    assert(overflow.count() > 0, "a 2-wide cap on 60 docs must overflow")
    assert(overflow.columns.toSeq ==
      Seq("e", "bucket_width", "dropped_est"))
    // uncapped overflow frame is empty with the same schema
    val (_, none) = graft.operators.Dedup.containmentPairs(sets, 0.9)
    assert(none.count() == 0)
  }
}
