package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines.
  *
  * All variants are pure DataFrame programs: candidate generation is a
  * shuffle on a short hash key (never an all-pairs product), verification
  * is a join on the candidate set only. At 100 TB each stage is a map +
  * one shuffle keyed on something small, which is the only shape that
  * survives a 1000-executor run.
  */
object Dedup {

  /** Exact dedup by content hash: keep the first row per normalized-text
    * fingerprint, "first" = lowest id (deterministic, unlike
    * dropDuplicates). Single hash-shuffle, map-side combinable. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    docs
      .withColumn("__fp", normalizedFingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** MinHash signature from a *materialized* shingle-array column:
    * `numHashes` minima of per-shingle xxhash64 under distinct seed-salts.
    * All codegen'd — no UDF, no MLlib. Callers must project the shingle
    * array into a concrete column first (see [[minHashPairs]]): inlining
    * `shingles(text)` here would re-tokenize the document once per hash
    * lane. Cheaper still: hash each shingle once, then salt that 64-bit
    * hash per lane, so the string is hashed once, not `numHashes` times. */
  def minHashSignature(shingleHashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleHashes, h => xxhash64(h, lit(i))))
    }: _*)

  /** Per-shingle 64-bit content hashes (the expensive string hashing,
    * done once per shingle). */
  def shingleHashes(text: Column, shingleK: Int): Column =
    transform(shingles(text, shingleK), s => xxhash64(s))

  /** MinHash-LSH near-duplicate candidate pairs.
    *
    * signature → `bands` bands of `rows` hashes; docs agreeing on any whole
    * band collide in that band's bucket. Shuffle key = (band, bucketHash):
    * tiny, uniform. Pairs are emitted once (idA < idB) with their estimated
    * Jaccard (signature agreement rate) and filtered at `threshold`.
    */
  def minHashPairs(docs: DataFrame, textCol: String, idCol: String,
                   shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                   threshold: Double = 0.5, native: Boolean = false): DataFrame =
    minHashPairsFromBanded(
      minHashBanded(docs, textCol, idCol, shingleK, bands, rowsPerBand, native),
      bands * rowsPerBand, threshold)

  /** [[minHashPairs]] with a hot-bucket guard for degenerate corpora (a
    * slice of near-identical short docs collapses into one (band, bucket),
    * and the within-bucket self-join is quadratic in its width — at 100 TB
    * a 50M-doc boilerplate bucket is 2.5e15 pair rows in ONE task).
    * Buckets wider than `maxBucketWidth` are down-sampled to ~that width by
    * a deterministic per-doc hash draw (each doc kept with probability
    * cap/width — survivors are a fixed function of (id, band, bucket), not
    * of partitioning or run order). The cap is NOT silent: the second
    * DataFrame returned lists every capped bucket with its true width and
    * expected drop count — callers must surface it (log/metrics) before
    * trusting the pair set as complete. Cost of the guard: one extra
    * map-side-combined count pass over the banded rows (the hot set itself
    * is tiny — only degenerate buckets — and broadcast). */
  def minHashPairsCapped(docs: DataFrame, textCol: String, idCol: String,
                         maxBucketWidth: Int,
                         shingleK: Int = 3, bands: Int = 8,
                         rowsPerBand: Int = 4, threshold: Double = 0.5,
                         native: Boolean = false): (DataFrame, DataFrame) = {
    val banded = minHashBanded(docs, textCol, idCol, shingleK, bands,
      rowsPerBand, native)
    val (guarded, overflow) =
      capBucketWidth(banded, Seq("band", "bucket"), maxBucketWidth)
    (minHashPairsFromBanded(guarded, bands * rowsPerBand, threshold), overflow)
  }

  private def minHashBanded(docs: DataFrame, textCol: String, idCol: String,
                            shingleK: Int, bands: Int, rowsPerBand: Int,
                            native: Boolean): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Signature stage, two equivalent plans (bit-identical output):
    //  - native: the fused one-pass codegen kernel
    //    ([[graft.plans.MinHashSignature]], register first) — a pure
    //    map-side expression, no shuffle, no intermediate arrays; the
    //    preferred path.
    //  - fallback: explode → hash-partitioned partial min per lane —
    //    vectorized hash aggregation with map-side combine (one shuffle
    //    keyed by doc id), not a 32-way nested HOF tree that would
    //    re-traverse the shingle array per lane.
    // Docs with zero shingles have no near-dup semantics and drop out of
    // both paths.
    val sig = if (native) {
      // no emptiness filter: shingles() yields at least [""] for any text
      // (PlansSpec asserts pair-level parity with the explode path), and a
      // size(...) guard here would be pushed below the projection and
      // recompute the whole shingle pipeline per row
      docs.select(col(idCol).as("id"),
        call_function(graft.plans.MinHashSignature.name,
          shingleHashes(col(textCol), shingleK), lit(numHashes)).as("sig"))
    } else {
      val exploded = docs.select(col(idCol).as("id"),
        explode(shingleHashes(col(textCol), shingleK)).as("h"))
      val lanes = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
      exploded.groupBy(col("id"))
        .agg(lanes.head, lanes.tail: _*)
        .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
    }
    // repartition on the join key BEFORE the per-side renames: both join
    // sides then share one canonical exchange subtree, so the signature
    // pipeline runs once and the second side is a ReusedExchange (without
    // this, each side of the self-join recomputes every signature)
    sig.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .repartition(col("band"), col("bucket"))
  }

  private def minHashPairsFromBanded(banded: DataFrame, numHashes: Int,
                                     threshold: Double): DataFrame = {
    val a = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), v => v === 1)).cast("double")
          / numHashes).as("est_jaccard"))
      .distinct()
      .where(col("est_jaccard") >= threshold)
  }

  /** Shared hot-bucket guard for the banded LSH self-joins. Keeps each row
    * of a bucket wider than `cap` with probability cap/width via a
    * deterministic hash draw (survivor set is a pure function of the doc id
    * and bucket key), leaving buckets at/under the cap untouched — so the
    * guard is a no-op on healthy corpora and only degenerate buckets lose
    * pairs. Returns (guarded banded rows, overflow stats): one stats row
    * per capped bucket with its true `bucket_width` and `dropped_est`
    * (width - cap, the expected row loss). The stats side is the cap's
    * required visibility — never discard it silently. */
  private def capBucketWidth(banded: DataFrame, keyCols: Seq[String],
                             cap: Int,
                             idCol: String = "id"): (DataFrame, DataFrame) = {
    require(cap > 0, "maxBucketWidth must be positive")
    val widths = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_width"))
    val hot = widths.where(col("bucket_width") > cap)
    val keep = banded.join(broadcast(hot), keyCols, "left")
      .where(col("bucket_width").isNull ||
        pmod(xxhash64(col(idCol) +: keyCols.map(col): _*),
          col("bucket_width")) < cap)
      .drop("bucket_width")
    val overflow = hot.select(keyCols.map(col) :+
      col("bucket_width") :+
      (col("bucket_width") - cap).as("dropped_est"): _*)
    (keep, overflow)
  }

  /** EXACT all-pairs Jaccard similarity join over a set-valued column via
    * an inverted-index count join. Unlike LSH this is COMPLETE: every pair
    * with J >= threshold is emitted, which is what makes the result
    * oracle-checkable (an external engine can recompute it exactly).
    *
    * Shape: explode to (id, element) postings, self-join on the element
    * (ONE shuffle — both sides reuse the same exchange), count shared
    * elements per pair (partial aggregation collapses the pair rows
    * map-side), then J = i / (|a| + |b| - i) with sizes attached by
    * broadcast. Join volume is Σ_e c_e² over posting sizes — proportional
    * to the TRUE near-dup pair mass plus the stopword-shingle tail. This
    * exact join is the ground-truth/verification harness (q41/q42/q66
    * oracle forms, DedupSpec); at web scale the subquadratic path is
    * [[minHashPairs]]/[[simHashPairs]] — an exact-completeness contract
    * cannot drop hot postings, because two huge posting lists may still
    * belong to genuinely similar pairs.
    *
    * (A prefix-filter variant — AllPairs/PPJoin, Bayardo et al. WWW'07 —
    * indexes only each set's rarest |s|-ceil(t·|s|)+1 elements; measured
    * on the 5k-doc fixture it lost: the freq join + per-set sort + 300k
    * candidates × two array-verify joins cost 3× the straight count join.
    * Worth revisiting only when the posting tail, not the pair mass,
    * dominates.)
    *
    * `sets` must have columns (`id`, `elems: array<string>`); elements are
    * de-duplicated here. Output: (id_a, id_b, jaccard) with id_a < id_b,
    * jaccard >= threshold, exact.
    */
  def jaccardJoinExact(sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    val base = sets.select(col("id"), array_distinct(col("elems")).as("elems"))
    val sizes = base.select(col("id"), size(col("elems")).as("sz"))
    // shared exchange: repartition on the join key BEFORE the per-side
    // renames so the shingle pipeline runs once
    val exploded = base.select(col("id"), explode(col("elems")).as("e"))
      .repartition(col("e"))
    val inter = exploded.select(col("e"), col("id").as("id_a"))
      .join(exploded.select(col("e"), col("id").as("id_b")), Seq("e"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(sizes.select(col("id").as("id_a"), col("sz").as("sa"))),
        "id_a")
      .join(broadcast(sizes.select(col("id").as("id_b"), col("sz").as("sb"))),
        "id_b")
      .withColumn("u", col("sa") + col("sb") - col("i"))
      .where(col("u") > 0 && col("i").cast("double") / col("u") >= threshold)
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / col("u")).as("jaccard"))
  }

  /** CONTAINMENT similarity join: all pairs with
    * C(A,B) = |A∩B| / min(|A|,|B|) ≥ threshold — the QUOTE-INCLUSION /
    * subset-duplication signal Jaccard structurally misses: a document
    * wholly contained in one 3× its size caps at j ≈ 1/3 however
    * verbatim the copy, while its containment is 1.0 (Broder'97
    * resemblance-vs-containment). Same inverted-index machinery as
    * [[jaccardJoinExact]]; deliberately NO size prefilter — small-in-
    * large is the point, and the Jaccard length-ratio filter would
    * discard exactly those pairs. `contained_id` names the smaller-set
    * side (tie → smaller id) so dedup policy can drop the fragment.
    *
    * Scale shape: one element-keyed inverted-index join (volume
    * Σ posting² — the exact-harness trade documented on
    * jaccardJoinExact; the LSH family remains the scale path for
    * discovery, with this as verification/ground truth). */
  def containmentJoin(sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    val base = sets.select(col("id"), array_distinct(col("elems")).as("elems"))
    val sizes = base.select(col("id"), size(col("elems")).as("sz"))
    val exploded = base.select(col("id"), explode(col("elems")).as("e"))
      .repartition(col("e"))
    val inter = exploded.select(col("e"), col("id").as("id_a"))
      .join(exploded.select(col("e"), col("id").as("id_b")), Seq("e"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("i"))
    // no broadcast hint on the doc-count-sized `sizes` frame: unlike the
    // planner's auto-broadcast a hint has no size cutoff, and this
    // operator explicitly advertises no size prefilter — let AQE pick
    // broadcast when the frame is small and fall back to a shuffle join
    // when it isn't (the unbounded-driver-collect guard)
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sa")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sb")), "id_b")
      .withColumn("m", least(col("sa"), col("sb")))
      .where(col("m") > 0 &&
        col("i").cast("double") / col("m") >= threshold)
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / col("m")).as("containment"),
        when(col("sa") < col("sb"), col("id_a"))
          .when(col("sb") < col("sa"), col("id_b"))
          .otherwise(least(col("id_a"), col("id_b"))).as("contained_id"))
  }

  /** CONTAINMENT-biased DISCOVERY join — the sub-quadratic twin of
    * [[containmentJoin]] (which is the exact/verification harness, the
    * jaccardJoinExact contract): all pairs with C(A,B) = |A∩B|/min ≥
    * `threshold`, found via ASYMMETRIC PREFIX-FILTER blocking
    * (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07, adapted to the
    * containment measure):
    *
    *  - order every set's elements canonically (portable spread hash,
    *    element string tie-break — replayable by an external engine);
    *  - the POTENTIAL-CONTAINEE side indexes only each set's PREFIX of
    *    ⌊(1−t)·|A|⌋+1 elements: if C(A,B) ≥ t with |A| ≤ |B| then B
    *    misses at most (1−t)·|A| of A's elements, so at least one
    *    prefix element of A is in B — candidate recall is EXACT;
    *  - the CONTAINER side indexes its FULL element set (any element
    *    might be the witness — this asymmetry is what the symmetric
    *    Jaccard prefix filter cannot express, and why small-in-large
    *    pairs survive);
    *  - candidates (size-ordered, deduped) verify EXACTLY via two
    *    id-keyed joins back to the element arrays (the editDistancePairs
    *    de-amplification discipline — the gram join carries ids only).
    *
    * Uncapped, the result EQUALS [[containmentJoin]]'s (completeness by
    * the prefix lemma, exactness by verification) at a candidate volume
    * of Σ_e prefix-posting_e × full-posting_e — a (1−t) reduction on
    * one side, the discovery price. `maxPostingWidth` > 0 caps the
    * container-side postings per element (deterministic hash draw,
    * overflow receipts — the minHashPairsCapped contract) for corpora
    * with stopword-element tails; capped buckets may lose pairs, and
    * the returned stats frame is the required visibility.
    *
    * `sets` must have columns (`id`, `elems: array<string>`). Returns
    * (pairs with the [[containmentJoin]] schema, overflow stats). */
  def containmentPairs(sets: DataFrame, threshold: Double,
                       maxPostingWidth: Int = 0): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    val base = sets.select(col("id"), array_distinct(col("elems")).as("elems"))
    val exploded = base
      .select(col("id"), size(col("elems")).as("sz"),
        explode(col("elems")).as("e"))
    // canonical element order: the engine-portable spread hash (the
    // kmvHash discipline — raw poly hash of short shingles is
    // non-uniform), element string as tie-break. Computed MAP-SIDE by
    // sorting each row's element array (struct sort = (hash, element),
    // exactly the old window's (hashOrd, e) order) and slicing the
    // prefix — the previous row_number window shuffled the whole
    // exploded element table by id just to rank within rows the data
    // already held together (guide §2.4: remove shuffles outright);
    // prefix membership is identical.
    val prefix = base
      .select(col("id").as("id_s"), size(col("elems")).as("sz_s"),
        explode(transform(
          slice(
            array_sort(transform(col("elems"), x =>
              struct(graft.functions.Udx.kmvHash(x).as("h"), x.as("e")))),
            lit(1),
            floor(lit(1.0 - threshold) * size(col("elems"))).cast("int") + 1),
          s => s.getField("e"))).as("e"))
      .select(col("e"), col("id_s"), col("sz_s"))
    val (guardedFull, overflow) =
      if (maxPostingWidth > 0)
        capBucketWidth(exploded, Seq("e"), maxPostingWidth)
      else (exploded,
        exploded.select(col("e"), lit(0L).as("bucket_width"),
          lit(0L).as("dropped_est")).limit(0))
    val full = guardedFull
      .select(col("e"), col("id").as("id_l"), col("sz").as("sz_l"))
    val cand = prefix.join(full, Seq("e"))
      .where(col("id_s") =!= col("id_l") && col("sz_s") <= col("sz_l"))
      .select(least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"))
      .distinct()
    val verified = cand
      .join(base.select(col("id").as("id_a"), col("elems").as("ea")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("elems").as("eb")),
        Seq("id_b"))
      .withColumn("i", size(array_intersect(col("ea"), col("eb"))))
      .withColumn("sa", size(col("ea")))
      .withColumn("sb", size(col("eb")))
      .withColumn("m", least(col("sa"), col("sb")))
      .where(col("m") > 0 &&
        col("i").cast("double") / col("m") >= threshold)
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / col("m")).as("containment"),
        when(col("sa") < col("sb"), col("id_a"))
          .when(col("sb") < col("sa"), col("id_b"))
          .otherwise(least(col("id_a"), col("id_b"))).as("contained_id"))
    (verified, overflow)
  }

  /** EDIT-DISTANCE similarity join (entity resolution / fuzzy key
    * matching): all pairs with `levenshtein(a, b) <= maxDist`, EXACT,
    * over lowercased strings. Candidates come from character-q-gram
    * blocking with the COUNT-FILTER guarantee (Gravano et al. 2001):
    * strings at edit distance ≤ d share at least
    * `max(|s|,|t|) − q + 1 − q·d` q-grams, so any pair whose longer
    * side has ≥ q·(d+1) chars shares ≥ 1 gram — those pairs flow
    * through one gram-keyed join (+ the |len| ≤ d filter the distance
    * implies). Pairs that CAN'T be gram-guaranteed (both sides shorter
    * than q·(d+1) — a longer-vs-tiny pair is already impossible, its
    * length gap alone exceeds d) fall back to a length-bucketed
    * nested-loop join over the short-string population only, kept
    * exact and guarded by `maxShortStrings` (fail-fast beats a silent
    * quadratic). Verification is one codegen'd `levenshtein` per
    * candidate. Output: (id_a, id_b, edit_distance), id_a < id_b.
    *
    * Scale shape: the gram join is the inverted-index pattern
    * (jaccardJoinExact's) — volume Σ posting²; a hot gram (common
    * prefix/boilerplate) is the skew to watch: pass `maxBucketWidth`
    * to cap postings per gram with overflow receipts (the LSH-family
    * trade: bounded work, documented recall loss), or pre-strip known
    * constant prefixes. */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
                        maxDist: Int = 2, q: Int = 3,
                        maxBucketWidth: Int = 0,
                        maxShortStrings: Long = 100000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1 (got $maxDist)")
    require(q >= 2, s"q must be >= 2 (got $q)")
    val minLong = q * (maxDist + 1)
    val base = df.select(col(idCol).as("id"),
        lower(col(textCol)).as("s"))
      .where(col("s").isNotNull)
      .withColumn("len", length(col("s")))
    // the gram-keyed candidate join carries (g, id, len) ONLY — a
    // candidate pair materializes once per shared gram, so attaching
    // the string payloads here would shuffle Σ(shared grams × string
    // bytes); instead the pair set is distinct'd first and the two text
    // columns join back by id (two id-keyed joins of doc-sized tables)
    val grams = base.where(col("len") >= q)
      .select(col("id"), col("len"),
        explode(array_distinct(charNgrams(col("s"), q))).as("g"))
    val posted =
      if (maxBucketWidth > 0)
        capBucketWidth(grams, Seq("g"), maxBucketWidth)._1
      else grams
    val longCand = posted
      .select(col("g"), col("id").as("id_a"), col("len").as("la"))
      .join(posted.select(col("g"), col("id").as("id_b"),
        col("len").as("lb")), Seq("g"))
      .where(col("id_a") < col("id_b") &&
        abs(col("la") - col("lb")) <= maxDist &&
        greatest(col("la"), col("lb")) >= minLong)
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
    val short = base.where(col("len") < minLong)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nShort = short.count()
      require(nShort <= maxShortStrings,
        s"$nShort strings shorter than $minLong chars exceed the " +
          s"maxShortStrings=$maxShortStrings nested-loop guard")
      val shortCand = short.select(col("id").as("id_a"), col("s").as("s_a"),
          col("len").as("la"))
        .join(short.select(col("id").as("id_b"), col("s").as("s_b"),
          col("len").as("lb")),
          col("id_a") < col("id_b") && abs(col("la") - col("lb")) <= maxDist)
        .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      // thresholded levenshtein (Spark 3.5+): banded O(len·maxDist) DP
      // with early exit instead of the full O(len²) table — returns the
      // EXACT distance when it is <= maxDist and -1 otherwise, so the
      // surviving pairs and their distances are identical
      longCand.unionByName(shortCand)
        .withColumn("edit_distance",
          levenshtein(col("s_a"), col("s_b"), maxDist))
        .where(col("edit_distance") >= 0 && col("edit_distance") <= maxDist)
        .select(col("id_a"), col("id_b"),
          col("edit_distance").cast("long").as("edit_distance"))
        // eager materialization (pair-sized) so `short` can be released
        // in finally without the result recomputing it uncached
        .transform(Materialize.ck)
    } finally short.unpersist(blocking = false)
  }

  /** 64-bit SimHash from a *materialized* token-hash array column: single
    * aggregate pass building the 64 bit-votes as an array accumulator,
    * then sign-pack. One traversal of the hashes, all codegen'd. */
  def simHashFromHashes(hashes: Column): Column = {
    val votes = aggregate(hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, i) => a + when(call_function("shiftrightunsigned", h, i)
          .bitwiseAND(1L) === 1L, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, sequence(lit(0), lit(63)),
      (v, i) => when(v > 0L, call_function("shiftleft", lit(1L), i))
        .otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  def simHash(text: Column): Column =
    simHashFromHashes(transform(tokens(lower(text)), t => xxhash64(t)))

  /** SimHash near-dup pairs: band the 64-bit hash into `chunks` equal-width
    * chunks; pairs agreeing on any chunk are candidates; verify with
    * bit_count(xor) <= maxHamming.
    *
    * Completeness bound (pigeonhole): any pair at Hamming distance
    * <= chunks-1 leaves at least one chunk intact, so candidate recall is
    * EXACT for maxHamming <= chunks-1 — choose chunks = maxHamming+1 for a
    * deterministic result. Scale trade: with c chunks of 64/c bits a chunk
    * bucket holds ~N/2^(64/c) docs and the within-bucket join is quadratic
    * in that; 4 chunks (16-bit buckets, ~N/65k) suits ~1e9-doc corpora,
    * 8 chunks (8-bit buckets, ~N/256) buys completeness at Hamming <= 7
    * but only suits smaller corpora — at extreme scale use two banding
    * levels (chunk pairs first, then singles) or cap bucket width. */
  def simHashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3, native: Boolean = false,
                   chunks: Int = 4): DataFrame =
    simHashPairsFromBanded(
      simHashBanded(docs, textCol, idCol, native, chunks), maxHamming)

  /** [[simHashPairs]] with the same hot-bucket guard (and the same
    * overflow-stats contract) as [[minHashPairsCapped]] — a degenerate
    * chunk bucket (boilerplate docs sharing a 16-bit chunk) otherwise
    * joins quadratically in one task. Capping trades candidate
    * completeness inside the listed buckets for boundedness; the returned
    * stats row per capped bucket is the honesty receipt. */
  def simHashPairsCapped(docs: DataFrame, textCol: String, idCol: String,
                         maxBucketWidth: Int, maxHamming: Int = 3,
                         native: Boolean = false,
                         chunks: Int = 4): (DataFrame, DataFrame) = {
    val banded = simHashBanded(docs, textCol, idCol, native, chunks)
    val (guarded, overflow) =
      capBucketWidth(banded, Seq("band", "chunk"), maxBucketWidth)
    (simHashPairsFromBanded(guarded, maxHamming), overflow)
  }

  private def simHashBanded(docs: DataFrame, textCol: String, idCol: String,
                            native: Boolean, chunks: Int): DataFrame = {
    // signature stage: fused one-pass kernel ([[graft.plans.SimHash]],
    // register first) vs explode → 64 conditional sums via vectorized hash
    // agg (same rationale as minHashPairs); docs with zero tokens have no
    // near-dup semantics and drop out of both paths
    val sigs = if (native) {
      // tokens() is empty exactly when the trimmed text is empty — filter
      // on that cheap predicate instead of size(tokens), which would be
      // pushed below the projection and re-tokenize per row
      docs.where(trim(col(textCol)) =!= "")
        .select(col(idCol).as("id"),
          call_function(graft.plans.SimHash.name,
            transform(tokens(lower(col(textCol))), t => xxhash64(t))).as("sim"))
    } else {
      val exploded = docs.select(col(idCol).as("id"),
        explode(transform(tokens(lower(col(textCol))), t => xxhash64(t))).as("h"))
      val votes = (0 until 64).map(i =>
        sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L)).as(s"v$i"))
      exploded.groupBy(col("id"))
        .agg(votes.head, votes.tail: _*)
        .select(col("id"),
          (0 until 64).map(i => when(col(s"v$i") > 0L, lit(1L << i)).otherwise(lit(0L)))
            .reduce(_ bitwiseOR _).as("sim"))
    }
    bandLongHash(sigs, chunks)
  }

  /** Chunk-band a 64-bit fingerprint table (`id`, `sim`) for the Hamming
    * candidate join — the shared tail of [[simHashPairs]] and the image
    * perceptual-hash join ([[hammingPairs]]). Shared exchange before the
    * per-side renames — see minHashPairs. */
  private def bandLongHash(sigs: DataFrame, chunks: Int): DataFrame = {
    require(chunks > 0 && 64 % chunks == 0, "chunks must divide 64")
    val chunkBits = 64 / chunks
    val low = if (chunkBits == 64) -1L else (1L << chunkBits) - 1L
    sigs.select(col("id"), col("sim"),
      posexplode(array((0 until chunks).map(i =>
        col("sim").bitwiseAND(lit(low << (chunkBits * i)))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
      .repartition(col("band"), col("chunk"))
  }

  /** Hamming near-dup join over ANY precomputed 64-bit fingerprint
    * column (SimHash, image dHash/aHash, …): chunk-band the hash,
    * candidate pairs agree on a chunk, verify bit_count(xor) <=
    * maxHamming. Same completeness bound as [[simHashPairs]]: recall is
    * EXACT for maxHamming <= chunks-1 (pigeonhole — some chunk survives).
    * Output (id_a, id_b, hamming), id_a < id_b. */
  def hammingPairs(fps: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3, chunks: Int = 4): DataFrame =
    simHashPairsFromBanded(
      bandLongHash(fps.select(col(idCol).as("id"), col(hashCol).as("sim")),
        chunks), maxHamming)

  /** [[hammingPairs]] with the family's hot-bucket guard and
    * overflow-stats contract ([[minHashPairsCapped]]): a degenerate
    * fingerprint cluster (e.g. thousands of byte-identical thumbnails)
    * shares every chunk bucket and joins quadratically in one task
    * otherwise. */
  def hammingPairsCapped(fps: DataFrame, idCol: String, hashCol: String,
                         maxBucketWidth: Int, maxHamming: Int = 3,
                         chunks: Int = 4): (DataFrame, DataFrame) = {
    val banded = bandLongHash(
      fps.select(col(idCol).as("id"), col(hashCol).as("sim")), chunks)
    val (guarded, overflow) =
      capBucketWidth(banded, Seq("band", "chunk"), maxBucketWidth)
    (simHashPairsFromBanded(guarded, maxHamming), overflow)
  }

  private def simHashPairsFromBanded(banded: DataFrame,
                                     maxHamming: Int): DataFrame = {
    val a = banded.select(col("band"), col("chunk"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("band", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Exact character-n-gram Jaccard for a candidate pair set (verification
    * stage after any LSH). `pairs` must have idA/idB. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, textCol: String,
                   idCol: String, n: Int = 3): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
      array_distinct(charNgrams(col(textCol), n)).as("grams"))
    pairs
      .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
      .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))))
      .withColumn("uni", size(array_union(col("grams_a"), col("grams_b"))))
      .select(col("id_a"), col("id_b"),
        when(col("uni") === 0, 0.0)
          .otherwise(col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Per-document duplicated-n-gram statistics — EXACT-SUBSTRING dedup
    * signal (cross-document repeated spans): a word-k-shingle of a
    * document is "duplicated" when the IDENTICAL shingle occurs in at
    * least `minDocs` distinct documents. Returns one row per doc:
    * (id, total_ngrams, dup_ngrams) over the doc's DISTINCT shingles —
    * the raw material for span-level removal or doc-level filter
    * thresholds (drop when dup_ngrams/total_ngrams is high).
    *
    * Scale shape: distinct shingles explode to one (gram, doc) row; ONE
    * shuffle keyed on the gram feeds a count window (each posting list
    * lands in one task, join-free — the shared-exchange discipline), then
    * one partial-agg shuffle on doc id folds the flags. At web scale
    * shuffle the gram's xxhash64 fingerprint instead of the string (the
    * oracle harness keeps strings exact); a corpus with pathological
    * boilerplate grams (giant posting lists buffering one window group)
    * would swap the window for agg + join on the same exchange. */
  def duplicatedNgramStats(docs: DataFrame, textCol: String, idCol: String,
                           k: Int = 5, minDocs: Int = 2): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(array_distinct(shingles(col(textCol), k))).as("gram"))
    val perGramDocs = count(lit(1))
      .over(org.apache.spark.sql.expressions.Window.partitionBy("gram"))
    grams
      .withColumn("docfreq", perGramDocs) // grams are per-doc distinct
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("total_ngrams"),
        sum(when(col("docfreq") >= minDocs, 1L).otherwise(0L))
          .as("dup_ngrams"))
  }

  /** Connected components over a near-dup pair list by iterative min-label
    * propagation: every node starts as its own component; each round every
    * node takes the minimum label in its neighborhood; fixpoint after
    * O(cluster diameter) rounds — near-dup clusters are shallow (pairs all
    * share bands/buckets), so this converges in a handful of one-shuffle
    * iterations. `localCheckpoint` truncates lineage each round so the plan
    * does not grow with iterations.
    *
    * Output: (id, comp) for every id appearing in `pairs`; comp = the
    * smallest id in its component. */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                 maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .transform(Materialize.ck)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .transform(Materialize.ck)
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src")).agg(min(col("comp")).as("ncomp"))
      val updated = labels
        .join(neighborMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("newComp"))
        .transform(Materialize.ck)
      converged = updated.where(col("newComp") < col("comp")).isEmpty
      labels = updated.select(col("id"), col("newComp").as("comp"))
      i += 1
    }
    labels
  }

  /** Near-dup dedup end to end: keep each component's canonical (smallest
    * id) member plus every doc not involved in any near-dup pair. */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = components(pairs)
    docs.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .where(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  /** SemDeDup-style semantic near-dup: cluster the embeddings with the
    * deterministic k-means codebook ([[Similarity.kmeansCodebook]]), then
    * exact cosine ONLY within a cluster. Each vector is soft-assigned to
    * its TWO nearest centroids so pairs straddling a cell boundary are
    * still compared — the standard recall fix at the cost of 2× exploded
    * rows. Returns (id_a, id_b, cosine) pairs at or above `threshold`.
    *
    * Scale shape: codebook build is `kmeansIters` corpus scans (reduce
    * side is k·dim rows); assignment is a map-side fold over the
    * broadcast codebook (zero shuffle); the self-join shuffles once on
    * the cell id and the per-cell product is (2N/k)² instead of N² —
    * k scales with the corpus, so cell populations (and the quadratic
    * term) stay bounded. The cosine-LSH alternative is
    * [[embeddingNearDup]]; the cluster form is the one that also yields
    * reusable semantic cells (IVF search, stratified inspection). */
  def semanticNearDup(embs: DataFrame, vecCol: String, idCol: String,
                      threshold: Double, nCentroids: Int = 8,
                      kmeansIters: Int = 2,
                      native: Boolean = false): DataFrame = {
    // the 2-nearest fold's second slot is a MaxValue sentinel when only
    // one centroid exists — exploding it would bucket the whole corpus
    // together (all-pairs); one cell is not a clustering anyway
    require(nCentroids >= 2, "semanticNearDup needs at least 2 centroids")
    val cents = Similarity.kmeansCodebook(embs, vecCol, idCol,
      nCentroids, kmeansIters)
    // explicit exchange on the cell BEFORE the per-side renames, so both
    // self-join sides reuse one shuffle (ReusedExchange discipline)
    val assigned = embs
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(Similarity.nearest2CentroidsCol(embs.sparkSession,
          col(vecCol), cents)).as("cid"))
      .repartition(col("cid"))
    val a = assigned.select(col("cid"), col("id").as("id_a"), col("vec").as("va"))
    val b = assigned.select(col("cid"), col("id").as("id_b"), col("vec").as("vb"))
    val cos =
      if (native) call_function(graft.plans.CosineSimilarity.name,
        col("va"), col("vb"))
      else VectorFunctions.cosine(col("va"), col("vb"))
    a.join(b, Seq("cid"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= threshold)
      // a pair sharing both probed cells arrives twice with bit-identical
      // cosines (same inputs) — collapse
      .distinct()
  }

  /** Embedding near-dup: cosine LSH buckets (random hyperplane signature)
    * → exact cosine within bucket → pairs above threshold.
    *
    * `tables` is the standard OR-amplification knob: `tables` independent
    * signatures (seeded hyperplane sets); a pair is a candidate if it
    * collides in ANY table, so per-pair miss probability drops from
    * (1 - p^nBits) to (1 - p^nBits)^tables, p = 1 - θ/π. The per-table
    * work is one extra exploded row per vector — candidate volume grows
    * linearly with `tables` while recall error decays exponentially. */
  def embeddingNearDup(embs: DataFrame, vecCol: String, idCol: String,
                       dim: Int, threshold: Double = 0.95,
                       nBits: Int = 12, native: Boolean = false,
                       tables: Int = 1): DataFrame =
    embeddingPairsFromBanded(
      hyperplaneBanded(embs, vecCol, idCol, dim, nBits, native, tables),
      threshold, native)

  /** [[embeddingNearDup]] with the same hot-bucket guard its MinHash and
    * SimHash siblings carry ([[minHashPairsCapped]]): a degenerate corpus
    * slice — a padded/zero-vector cluster, a boilerplate embedding — lands
    * on one side of every hyperplane and collapses into a single
    * (table, bucket), where the within-bucket self-join goes quadratic in
    * ONE task. Buckets wider than `maxBucketWidth` are down-sampled to
    * ~that width by the shared deterministic per-id hash draw
    * ([[capBucketWidth]]); the guard is a no-op on healthy corpora. The
    * cap is NOT silent: the second DataFrame lists every capped
    * (table, bucket) with its true width and expected drop count —
    * surface it before trusting the pair set as complete. */
  def embeddingNearDupCapped(embs: DataFrame, vecCol: String, idCol: String,
                             dim: Int, maxBucketWidth: Int,
                             threshold: Double = 0.95,
                             nBits: Int = 12, native: Boolean = false,
                             tables: Int = 1): (DataFrame, DataFrame) = {
    // the guard reads the banded rows TWICE (width count + filtered
    // keep) — an explicit exchange on the bucket key makes the second
    // read a ReusedExchange instead of recomputing every hyperplane
    // signature (the minHashPairsCapped discipline; measured 2× at
    // sf0.1 without it). Rows-per-bucket skew in that exchange is
    // linear and exactly what the cap then bounds
    val banded =
      hyperplaneBanded(embs, vecCol, idCol, dim, nBits, native, tables)
        .repartition(col("table"), col("bucket"))
    val (guarded, overflow) =
      capBucketWidth(banded, Seq("table", "bucket"), maxBucketWidth)
    (embeddingPairsFromBanded(guarded, threshold, native), overflow)
  }

  private def hyperplaneBanded(embs: DataFrame, vecCol: String,
                               idCol: String, dim: Int, nBits: Int,
                               native: Boolean, tables: Int): DataFrame = {
    // no forced exchange here: the signature table is vec-sized rows over
    // few (2^nBits) buckets — a bucket shuffle skews, while letting AQE
    // broadcast the smaller side costs only a cheap recompute (measured
    // ~2x faster at sf0.1)
    def bucket(t: Int) =
      if (native) call_function(graft.plans.HyperplaneSignature.name,
        col(vecCol), lit(nBits), lit(dim), lit(42L + t))
      else VectorFunctions.hyperplaneSignature(col(vecCol), nBits, dim, 42L + t)
    embs.select(col(idCol).as("id"), col(vecCol).as("vec"),
      posexplode(array((0 until tables).map(bucket): _*)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
  }

  private def embeddingPairsFromBanded(sig: DataFrame, threshold: Double,
                                       native: Boolean): DataFrame = {
    val a = sig.select(col("table"), col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = sig.select(col("table"), col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    val cos =
      if (native) call_function(graft.plans.CosineSimilarity.name,
        col("vec_a"), col("vec_b"))
      else VectorFunctions.cosine(col("vec_a"), col("vec_b"))
    a.join(b, Seq("table", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  // ---------------------------------------------------------------------
  // INCREMENTAL near-dup: probe a persisted signature index, never
  // re-sketch the corpus
  // ---------------------------------------------------------------------

  /** Result of one incremental ingest: the near-dup `pairs` the new
    * batch introduced (id_a < id_b; at least one side is a new doc), the
    * graft-index version the batch's signatures landed as, and — when a
    * batch-bucket cap was requested — the [[capBucketWidth]] overflow
    * receipt (one row per capped batch bucket; None = no cap asked). */
  final case class IncrementalDedup(pairs: DataFrame, indexVersion: Long,
                                    overflow: Option[DataFrame] = None)

  /** The two persisted-index layouts and their trade:
    *
    *  - `probeLayout = false` (default) — `idx_key` leads with the
    *    zero-padded doc id. INGEST-local: monotone ids append at the
    *    key-space tail, an index merge touches ~one boundary file. But a
    *    probe reads the WHOLE index: every file spans every band, so no
    *    file prunes — scan IO is index-sized per ingest (16-byte rows,
    *    map-side filtered, but still index-sized IO).
    *  - `probeLayout = true` — `idx_key` leads with band:bucket, and the
    *    incremental functions attach manifest dim zone maps on
    *    (band, bucket/chunk). PROBE-local: files cluster by bucket, the
    *    probe's broadcast join pushes its bucket set into the scan at
    *    runtime ([[graft.sources.GraftSource]] dim point-set pruning, the
    *    `ivfPqTopKGraft` discipline) and reads only files holding probed
    *    buckets — probe IO ∝ collisions. The cost: a batch's upserts
    *    scatter across the bucket key space, so index merges dirty many
    *    files instead of one boundary file.
    *
    * Steady-state guidance: append-heavy pipelines that rarely probe keep
    * the default; dedup-on-ingest pipelines (probe every batch, merge
    * cost amortized by compaction) want `probeLayout = true`. */
  private def idxKey(probeLayout: Boolean, bucketCol: String): Column =
    if (!probeLayout)
      concat(lpad(col("doc_id").cast("string"), 14, "0"), lit(":"),
        lpad(col("band").cast("string"), 3, "0"))
    else
      concat(lpad(col("band").cast("string"), 3, "0"), lit(":"),
        lpad(hex(col(bucketCol)), 16, "0"), lit(":"),
        lpad(col("doc_id").cast("string"), 14, "0"))

  /** The persisted LSH-index rows for `docs`: one row per (doc, band)
    * carrying the band's bucket hash and the doc's full MinHash
    * signature (for candidate verification — the index never stores
    * text). `idx_key` layout per [[idxKey]]: ingest-local (doc-id-led,
    * default) or probe-local (band:bucket-led). All map-side; signature
    * via the fused native kernel when registered. */
  def minHashIndexRows(docs: DataFrame, textCol: String, idCol: String,
                       shingleK: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 4,
                       native: Boolean = false,
                       probeLayout: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = if (native) {
      docs.select(col(idCol).cast("long").as("doc_id"),
        call_function(graft.plans.MinHashSignature.name,
          shingleHashes(col(textCol), shingleK), lit(numHashes)).as("sig"))
    } else {
      val exploded = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(shingleHashes(col(textCol), shingleK)).as("h"))
      val lanes = (0 until numHashes).map(i =>
        min(xxhash64(col("h"), lit(i))).as(s"m$i"))
      exploded.groupBy(col("doc_id"))
        .agg(lanes.head, lanes.tail: _*)
        .select(col("doc_id"),
          array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
    }
    sig.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      // band as LONG: manifest dim zone maps encode long bounds exactly
      // (an int32 footer stat would fall to the string repr and mis-
      // compare against long-typed runtime filter values)
      .select(idxKey(probeLayout, "bucket").as("idx_key"),
        col("doc_id"), col("band").cast("long").as("band"),
        col("bucket"), col("sig"))
  }

  /** The persisted-index rows for a 64-bit FINGERPRINT table
    * (`fps`: idCol + hashCol — image dHash, audio-envelope dHash,
    * video majority hash, SimHash): one row per (id, chunk band)
    * carrying the band's masked chunk and the full fingerprint.
    * `idx_key` layout per [[idxKey]] (ingest-local default,
    * band:chunk-led probe layout). All map-side. */
  def hammingIndexRows(fps: DataFrame, idCol: String, hashCol: String,
                       chunks: Int = 4,
                       probeLayout: Boolean = false): DataFrame =
    bandLongHash(fps.select(col(idCol).cast("long").as("id"),
        col(hashCol).as("sim")), chunks)
      .withColumnRenamed("id", "doc_id")
      .select(idxKey(probeLayout, "chunk").as("idx_key"),
        col("doc_id"), col("band").cast("long").as("band"),
        col("chunk"), col("sim"))

  /** One INCREMENTAL Hamming-dedup ingest against the persisted
    * fingerprint index at `indexRoot` — [[dedupIncremental]]'s shape
    * for ANY 64-bit fingerprint family (the multimodal hashes,
    * SimHash): band the batch's fingerprints map-side, probe the index,
    * verify by bit_count(xor) <= maxHamming, and commit the batch's
    * rows as the next index version. A 100 TB image corpus ingesting a
    * daily batch re-decodes and re-hashes ONLY the batch.
    *
    * Probe cost, honestly: the SHUFFLE is always ∝ batch + collisions
    * (the index side is semi-join-filtered map-side before anything
    * crosses the wire), but scan IO depends on the layout. The default
    * ingest-local layout reads the whole index per probe (every file
    * spans every band — 16-byte rows, but index-sized IO). With
    * `probeLayout = true` the index clusters by (band, chunk) and
    * carries dim zone maps on both, so the probe's broadcast join
    * prunes FILES at runtime and scan IO is ∝ collisions — at the cost
    * of ingest-scattered merges ([[idxKey]] documents the trade).
    *
    * `maxBucketWidth` (optional) routes the BATCH-INTERNAL self-join
    * through the [[capBucketWidth]] hot-bucket guard — a degenerate
    * batch (solid-color thumbnails all hashing 0L) otherwise goes
    * quadratic in one task. The overflow receipt lands in
    * [[IncrementalDedup.overflow]]; the cap never drops rows from the
    * COMMITTED index, only from the batch self-join.
    *
    * Returned pairs (id_a < id_b, hamming): batch-vs-corpus AND
    * batch-internal. Exact recall for maxHamming <= chunks-1, as
    * [[hammingPairs]]. Re-ingesting a batch is idempotent (same id →
    * same idx_keys upsert). */
  def hammingIncremental(indexRoot: String, fps: DataFrame,
                         idCol: String, hashCol: String,
                         maxHamming: Int = 2, chunks: Int = 4,
                         extendIndex: Boolean = true,
                         probeLayout: Boolean = false,
                         maxBucketWidth: Option[Int] = None,
                         indexFiles: Int = 0): IncrementalDedup = {
    val spark = fps.sparkSession
    val newRows = hammingIndexRows(fps, idCol, hashCol, chunks, probeLayout)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val exists = java.nio.file.Files.exists(
        java.nio.file.Paths.get(indexRoot, "base",
          graft.sources.MutableParquetTable.ManifestName))
      val corpusPairs = if (!exists) None else {
        val probed = newRows.select(col("band"), col("chunk")).distinct()
        val (index, pts) = probePrunedIndex(spark, indexRoot, probed, "chunk")
        Some(index
          .join(broadcast(probeSide(spark, probed, pts)),
            Seq("band", "chunk"), "left_semi")
          .select(col("band"), col("chunk"), col("doc_id").as("id_idx"),
            col("sim").as("sim_idx"))
          .join(newRows.select(col("band"), col("chunk"),
            col("doc_id").as("id_new"), col("sim").as("sim_new")),
            Seq("band", "chunk"))
          .where(col("id_idx") =!= col("id_new"))
          .select(least(col("id_idx"), col("id_new")).as("id_a"),
            greatest(col("id_idx"), col("id_new")).as("id_b"),
            col("sim_idx").as("sim_a"), col("sim_new").as("sim_b")))
      }
      val (joinRows, overflow) = maxBucketWidth match {
        case Some(cap) =>
          val (kept, ov) = capBucketWidth(newRows,
            Seq("band", "chunk"), cap, idCol = "doc_id")
          (kept, Some(ov.transform(Materialize.ck)))
        case None => (newRows, None)
      }
      val a = joinRows.select(col("band"), col("chunk"),
        col("doc_id").as("id_a"), col("sim").as("sim_a"))
      val b = joinRows.select(col("band"), col("chunk"),
        col("doc_id").as("id_b"), col("sim").as("sim_b"))
      val batchPairs = a.join(b, Seq("band", "chunk"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
      val pairs = corpusPairs.map(_.unionByName(batchPairs))
        .getOrElse(batchPairs)
        .select(col("id_a"), col("id_b"),
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
        .distinct()
        .where(col("hamming") <= maxHamming)
        // materialize before the index commit mutates what a lazy plan
        // would re-read (the probe must see the PRE-ingest index)
        .transform(Materialize.ck)
      val version = commitIndex(spark, indexRoot, newRows, exists,
        extendIndex, probeLayout, Seq("band", "chunk"), indexFiles)
      IncrementalDedup(pairs, version, overflow)
    } finally { newRows.unpersist(blocking = false): Unit }
  }

  /** The probe side of an incremental ingest, with static file pruning
    * when the index was created `probeLayout = true`: the batch's
    * (band, bucket) point set is pushed into the index scan as per-column
    * `In` filters, and the manifest's dim zone maps (tight under the
    * band:bucket-clustered layout) keep only FILES holding probed buckets
    * — scan IO ∝ collisions, the `ivfPqTopKGraft` discipline. The
    * per-column sets are a cross-product superset of the exact pairs;
    * the broadcast semi join downstream restores exactness, so results
    * are layout-independent. Detection is from the manifest itself (dim
    * entries on the banding columns), so a probe never needs to be told
    * which layout it is reading. Skipped — plain full-scan feed, the
    * ingest-layout behavior — when the probe set exceeds `cap` (the
    * collect is bounded at cap+1 rows, never batch-sized surprise). */
  private def probePrunedIndex(spark: SparkSession, indexRoot: String,
                               probed: DataFrame, bucketCol: String,
                               cap: Int = 1 << 16)
      : (DataFrame, Option[Array[org.apache.spark.sql.Row]]) = {
    val index = spark.read.format("graft").load(indexRoot)
    val snap = graft.streaming.CdcMergeSink.latestSnapshot(indexRoot)
    val dims = graft.sources.MutableParquetTable.manifestDimRanges(snap).keySet
    if (!dims.contains("band") || !dims.contains(bucketCol)) (index, None)
    else {
      val pts = probed.limit(cap + 1).collect()
      if (pts.length > cap) (index, None)
      else {
        val bands = pts.map(_.getLong(0)).distinct.toSeq
        val buckets = pts.map(_.getLong(1)).distinct.toSeq
        // hand the collected point set back so the caller's broadcast
        // semi-join side becomes a LOCAL relation — the probed distinct
        // is then evaluated ONCE (here) instead of once more for the
        // broadcast build (guide §7.2); bounded by `cap`, never
        // batch-sized
        (index.where(col("band").isin(bands: _*) &&
          col(bucketCol).isin(buckets: _*)), Some(pts))
      }
    }
  }

  /** The broadcast semi-join side for a probe: the ALREADY-COLLECTED
    * point set as a local relation when the pruning path collected it
    * (zero extra jobs), the distinct frame otherwise. */
  private def probeSide(spark: SparkSession, probed: DataFrame,
                        pts: Option[Array[org.apache.spark.sql.Row]])
      : DataFrame = pts match {
    case Some(rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        probed.schema)
    case None => probed
  }

  /** Scale-adaptive file count for a fresh index (guide §6: files in the
    * 128 MB – 1 GB range, never a partition-count-shaped spray of tiny
    * files): size from the batch plan's statistics at ~128 MB per file,
    * clamped to the old partition-derived cap so a mis-estimated plan
    * cannot explode the layout. A fixture-sized index becomes ONE file
    * (every later CoW merge then opens/rewrites 1 file, not 32); a
    * 100 TB index gets its true byte-proportional count. */
  private def indexCreateFiles(newRows: DataFrame): Int = {
    val est = newRows.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = (est / (128L * 1024 * 1024)).toLong
    val cap = math.max(1, newRows.rdd.getNumPartitions.min(32))
    // floor at the session's write parallelism (bounded by the cap): a
    // byte-proportional count is the 100 TB shape, but a small index in
    // ONE file serializes every later CoW merge's dirty rewrite into a
    // single task — keep enough files that a merge can use the cluster
    val minP = math.min(
      newRows.sparkSession.sparkContext.defaultParallelism, cap)
    math.max(minP.toLong, math.min(byBytes, cap.toLong)).toInt
  }

  /** Commit one ingest's index rows: create on first use (attaching the
    * probe layout's dim zone maps on the banding columns — carried and
    * re-swept by every later merge), upsert otherwise. */
  private def commitIndex(spark: SparkSession, indexRoot: String,
                          newRows: DataFrame, exists: Boolean,
                          extendIndex: Boolean, probeLayout: Boolean,
                          dimCols: Seq[String],
                          indexFiles: Int = 0): Long =
    if (!extendIndex) -1L
    else if (!exists) {
      graft.GraftTable.create(newRows, indexRoot, "idx_key",
        numFiles =
          if (indexFiles > 0) indexFiles
          else indexCreateFiles(newRows))
      if (probeLayout)
        graft.sources.MutableParquetTable.attachDimRanges(spark,
          graft.streaming.CdcMergeSink.latestSnapshot(indexRoot), dimCols)
      -1L
    } else {
      graft.GraftTable(spark, indexRoot, "idx_key")
        .commit(newRows.withColumn("op", lit("upsert")))
    }

  /** One INCREMENTAL dedup ingest against the persisted index at
    * `indexRoot` (a graft table, created on first use): sketch the new
    * batch map-side, probe the index for collisions, verify candidates
    * by stored-signature agreement, and commit the batch's signatures
    * as the next index version — the production shape for continuously
    * ingested corpora, where re-sketching 100 TB per increment
    * ([[minHashPairs]] over the union) is the thing to avoid.
    *
    * Scale shape: the index scan is MAP-SIDE filtered by a broadcast of
    * the batch's (band, bucket) set before anything shuffles — only
    * index rows in probed buckets cross the wire (the decontamination
    * discipline), so the SHUFFLE is batch-sized + collision-sized. Scan
    * IO is layout-dependent: the default ingest-local layout still
    * READS the whole index per probe; `probeLayout = true` clusters by
    * (band, bucket) with dim zone maps so the probe prunes files and IO
    * is ∝ collisions (see [[idxKey]] for the trade). The index merge is
    * an ordinary graft CoW commit (idempotent on re-ingest: same doc id
    * → same `idx_key`s upsert).
    *
    * `maxBucketWidth` caps the batch-internal self-join per
    * [[hammingIncremental]] (overflow receipt in the result; the
    * committed index is never capped).
    *
    * Returned pairs (id_a < id_b, est_jaccard ≥ threshold): new-vs-
    * corpus collisions AND new-vs-new pairs within the batch. Estimated
    * Jaccard = signature agreement rate, as [[minHashPairs]].
    *
    * `emitPairs = false` skips pair discovery entirely (empty pairs
    * frame, no overflow stats) and only sketches + commits — the cheap
    * form for a pure index-SEEDING ingest whose caller discards the
    * pair stream; the committed index is identical.
    *
    * `pairsSink`, when set, is invoked with the (already materialized)
    * pairs frame CONCURRENTLY with the index commit (guide §2.6: the
    * pair write and the commit touch independent storage) and joined
    * before returning — the streaming sink's per-epoch pair append
    * rides the commit's tail instead of serializing after it. Both sides
    * have quiesced before any exception propagates; when both fail, the
    * commit's exception propagates with the sink's attached as
    * suppressed. The sink may have appended its pairs before a commit
    * failed, so its output is at-least-once: a retried epoch appends
    * them again, and consumers must tolerate duplicates. A sink needs
    * `emitPairs` (the seeding path computes no pairs to hand it). */
  def dedupIncremental(indexRoot: String, newDocs: DataFrame,
                       textCol: String, idCol: String,
                       shingleK: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 4, threshold: Double = 0.5,
                       native: Boolean = false,
                       extendIndex: Boolean = true,
                       probeLayout: Boolean = false,
                       maxBucketWidth: Option[Int] = None,
                       indexFiles: Int = 0,
                       emitPairs: Boolean = true,
                       pairsSink: Option[DataFrame => Unit] = None)
      : IncrementalDedup = {
    require(pairsSink.isEmpty || emitPairs,
      "a pairsSink needs emitPairs = true — the seeding path finds no pairs")
    val spark = newDocs.sparkSession
    val numHashes = bands * rowsPerBand
    val newRows = minHashIndexRows(newDocs, textCol, idCol, shingleK,
      bands, rowsPerBand, native, probeLayout)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // `emitPairs = false`: an index-SEEDING ingest whose caller
      // discards the pair stream (it only wants the committed index)
      // skips the whole probe/self-join/verify pipeline — the batch-
      // internal bucket self-join over a full corpus is the expensive
      // stage, and computing a result nobody reads is the first thing
      // the optimization order removes (guide §1.2). The committed
      // index is IDENTICAL either way (same newRows, same commit).
      if (!emitPairs) {
        val exists0 = java.nio.file.Files.exists(
          java.nio.file.Paths.get(indexRoot, "base",
            graft.sources.MutableParquetTable.ManifestName))
        val version = commitIndex(spark, indexRoot, newRows, exists0,
          extendIndex, probeLayout, Seq("band", "bucket"), indexFiles)
        val emptyPairs = newRows
          .select(col("doc_id").as("id_a"), col("doc_id").as("id_b"),
            lit(0.0).as("est_jaccard"))
          .limit(0)
        return IncrementalDedup(emptyPairs, version, None)
      }
      val exists = java.nio.file.Files.exists(
        java.nio.file.Paths.get(indexRoot, "base",
          graft.sources.MutableParquetTable.ManifestName))
      val agree = (size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)), v => v === 1))
        .cast("double") / numHashes).as("est_jaccard")
      val corpusPairs = if (!exists) None else {
        // broadcast the batch's probed buckets: the index scan stays
        // map-side, only colliding rows shuffle (and prunes FILES under
        // the probe layout — probePrunedIndex)
        val probed = newRows.select(col("band"), col("bucket")).distinct()
        val (index, pts) = probePrunedIndex(spark, indexRoot, probed, "bucket")
        Some(index
          .join(broadcast(probeSide(spark, probed, pts)),
            Seq("band", "bucket"), "left_semi")
          .select(col("band"), col("bucket"), col("doc_id").as("id_idx"),
            col("sig").as("sig_idx"))
          .join(newRows.select(col("band"), col("bucket"),
            col("doc_id").as("id_new"), col("sig").as("sig_new")),
            Seq("band", "bucket"))
          .where(col("id_idx") =!= col("id_new"))
          .select(least(col("id_idx"), col("id_new")).as("id_a"),
            greatest(col("id_idx"), col("id_new")).as("id_b"),
            col("sig_idx").as("sig_a"), col("sig_new").as("sig_b")))
      }
      val (joinRows, overflow) = maxBucketWidth match {
        case Some(cap) =>
          val (kept, ov) = capBucketWidth(newRows,
            Seq("band", "bucket"), cap, idCol = "doc_id")
          (kept, Some(ov.transform(Materialize.ck)))
        case None => (newRows, None)
      }
      val a = joinRows.select(col("band"), col("bucket"),
        col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = joinRows.select(col("band"), col("bucket"),
        col("doc_id").as("id_b"), col("sig").as("sig_b"))
      val batchPairs = a.join(b, Seq("band", "bucket"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      val pairs = corpusPairs.map(_.unionByName(batchPairs))
        .getOrElse(batchPairs)
        .select(col("id_a"), col("id_b"), agree)
        .distinct()
        .where(col("est_jaccard") >= threshold)
        // materialize before the index commit mutates what a lazy plan
        // would re-read (the probe must see the PRE-ingest index)
        .transform(Materialize.ck)
      // `extendIndex = false` probes WITHOUT committing (a dry-run /
      // bench separation of pairs-finding from index maintenance).
      // The pairs consumer (if any) runs concurrently with the commit —
      // pairs are checkpointed above, so the sink never re-reads the
      // index the commit is mutating.
      val sinkF = pairsSink.map(f =>
        scala.concurrent.Future(f(pairs))(Overlap.ec))
      val version =
        try commitIndex(spark, indexRoot, newRows, exists,
          extendIndex, probeLayout, Seq("band", "bucket"), indexFiles)
        catch { case e: Throwable =>
          // the sink still quiesces; its failure must not replace the
          // commit's
          sinkF.foreach(f => try Overlap.awaitAll(Seq(f)) catch {
            case sinkError: Throwable if sinkError ne e =>
              e.addSuppressed(sinkError)
          })
          throw e
        }
      sinkF.foreach(f => Overlap.awaitAll(Seq(f)))
      IncrementalDedup(pairs, version, overflow)
    } finally { newRows.unpersist(blocking = false): Unit }
  }

  /** Rewrite a persisted signature index into the OTHER [[idxKey]]
    * layout, committed as the table's next version — the maintenance
    * move for a pipeline whose probe/ingest balance changed after the
    * index was seeded (an append-mostly table that starts deduping every
    * batch wants to flip to the probe layout without re-sketching the
    * corpus). Full rewrite through the rebucket discipline: read the
    * latest state, recompute `idx_key` under the target layout, write
    * key-sorted into a private staging dir, and publish it by the one
    * slot claim every version takes
    * ([[graft.OptimisticCommit.commitRewrite]]; re-run against the new
    * head when a concurrent writer wins the slot) — time travel keeps
    * the old layout readable, every later probe/merge sees the new one.
    *
    * The probe layout's dim zone maps on (band, bucket|chunk) are
    * attached to the staged snapshot before it publishes; flipping back
    * to the ingest layout sheds them (the physical rewrite carries no
    * dim entries, and [[probePrunedIndex]] auto-detects the layout from
    * their absence). Works on both index families — MinHash (`bucket`)
    * and Hamming (`chunk`) — detected from the index's own columns.
    * Results of any later probe are layout-independent; only the IO
    * shape changes.
    *
    * `files = 0` keeps the current file count. Returns the new version.
    * Exposed in SQL as `CALL <cat>.system.rebuild_index(...)`
    * ([[graft.sources.GraftProcedures]]). */
  def rebuildIndexLayout(spark: SparkSession, indexRoot: String,
                         probeLayout: Boolean, files: Int = 0): Long =
    graft.OptimisticCommit.commitRewrite(indexRoot, "rebuildIndexLayout") {
      (latest, target) =>
        import graft.sources.{MutableParquetTable, ParquetTable}
        val state = graft.streaming.CdcMergeSink.readSnapshot(spark, latest)
        val cols = state.columns.toSet
        require(Set("idx_key", "doc_id", "band").subsetOf(cols),
          s"$indexRoot is not a graft signature index " +
            "(idx_key/doc_id/band columns required)")
        val bucketCol =
          if (cols.contains("bucket")) "bucket"
          else if (cols.contains("chunk")) "chunk"
          else throw new IllegalArgumentException(
            s"$indexRoot has neither a bucket nor a chunk banding column")
        val schema = MutableParquetTable.manifestSchema(latest)
        if (state.isEmpty)
          MutableParquetTable.commitEmpty(target, "idx_key",
            schema.getOrElse(state.schema),
            checks = graft.sources.GraftChecks.manifestChecks(latest))
        else {
          val relaid = state.withColumn("idx_key", idxKey(probeLayout, bucketCol))
          val n = if (files > 0) files else math.max(1,
            MutableParquetTable.manifestFileNames(latest).map(_.size).getOrElse(1))
          ParquetTable.withMicrosTimestamps(spark) {
            ParquetTable.writeSortedBy(relaid, target, Seq("idx_key"), n)
          }
          MutableParquetTable(spark, latest, "idx_key")
            .commitManifest(target, schema, physicalRewrite = true)
          // probe layout declares itself through the dim zone maps (probes
          // auto-detect from their presence) — attach on the way in, shed
          // on the way out (commitManifest carries the old entries forward)
          if (probeLayout)
            MutableParquetTable.attachDimRanges(spark, target,
              Seq("band", bucketCol))
          else
            MutableParquetTable.detachDimRanges(target, Seq("band", bucketCol))
        }
        true
    }

  /** BLOOM-FILTER membership probe — the join-free "seen before" test
    * for ingest gating at scale: ONE map-side pass over `corpus` builds
    * a fixed-size mergeable bitmap ([[graft.functions.Udx.bloomBits]],
    * `numBits/8` bytes total regardless of corpus size), which then
    * broadcasts to the probe side for a few codegen'd bit tests per
    * row. At 100 TB the corpus never shuffles and the batch never joins
    * it — the summary IS the wire traffic, the sketch discipline
    * (q40/q163). Contrast with [[exact]] (a corpus-wide hash shuffle)
    * and the incremental index (exact, but IO ∝ collisions): Bloom
    * trades a sized false-positive rate (~`(1-e^{-kn/m})^k`, never a
    * false negative) for constant probe cost — the right first gate in
    * front of an exact path.
    *
    * Returns `probes` plus `bloom_hit` (int 0/1). Size `numBits` to the
    * corpus key cardinality (default 1<<18 bits ≈ 3% fpp at 10k keys
    * with 4 hashes); both sides hash via the shared codegen'd
    * [[graft.functions.Udx.bloomPos]] lanes, so build and probe cannot
    * drift. */
  def bloomMembership(corpus: DataFrame, corpusKeyCol: String,
                      probes: DataFrame, probeKeyCol: String,
                      numBits: Int = 1 << 18,
                      numHashes: Int = 4): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive (got $numHashes)")
    import graft.functions.Udx
    val positions = corpus.select(explode(array((0 until numHashes).map(i =>
      Udx.bloomPos(col(corpusKeyCol), i, numBits)): _*)).as("__pos"))
    val bits = positions.agg(Udx.bloomBits(numBits)(col("__pos")).as("__bits"))
    probes.crossJoin(broadcast(bits))
      .withColumn("bloom_hit",
        Udx.bloomProbe(col("__bits"), col(probeKeyCol), numHashes, numBits)
          .cast("int"))
      .drop("__bits")
  }
}
