package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.operators.CorpusPrep

/** Corpus-prep operators: decontamination, repetition signals, chunking,
  * distributed prefix sum / packing, salient terms. */
class CorpusPrepSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("decontaminate drops docs sharing shingles with the eval set, keeps the rest") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "an entirely different sentence about spark physical plans",
      3L -> "quick brown fox jumps over the lazy dog again today",
      4L -> "completely unrelated text mentioning nothing shared at all")
    val eval = docs(100L -> "the quick brown fox jumps over the lazy dog")
    val cleaned = CorpusPrep.decontaminate(corpus, eval, "text", "doc_id",
      k = 5, minOverlap = 2)
    assert(cleaned.select("doc_id").as[Long].collect().sorted === Array(2L, 4L))
  }

  test("overlap counting is on DISTINCT shingles and the eval side broadcasts") {
    // doc 1 repeats the same 5-gram twice -> still counts once
    val five = "alpha beta gamma delta epsilon"
    val corpus = docs(1L -> s"$five zeta $five")
    val eval = docs(9L -> five)
    val hits = CorpusPrep.overlapCounts(corpus, eval, "text", "doc_id", 5)
    val row = hits.head()
    assert(row.getLong(0) === 1L)
    assert(row.getLong(1) === 1L)
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side should broadcast:\n$plan")
  }

  test("dedupLines strips cross-document boilerplate, keeps order and structure") {
    val corpus = docs(
      1L -> "COOKIE BANNER\nalpha prose one\n\nbeta prose one\nCOOKIE BANNER",
      2L -> "COOKIE BANNER\ngamma prose two\n\ndelta prose two",
      3L -> "COOKIE BANNER\nepsilon prose three",
      4L -> "unique document with no shared lines at all")
    val out = CorpusPrep.dedupLines(corpus, "text", "doc_id", maxDocs = 2)
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    // the banner is in 3 docs (> maxDocs=2) — dropped EVERYWHERE,
    // including its second occurrence in doc 1; blank structure lines and
    // unique prose survive in original order
    assert(out(1L) === "alpha prose one\n\nbeta prose one")
    assert(out(2L) === "gamma prose two\n\ndelta prose two")
    assert(out(3L) === "epsilon prose three")
    assert(out(4L) === "unique document with no shared lines at all")

    // a doc that was ONLY boilerplate drops out entirely...
    val all = docs(1L -> "SAME\nSAME", 2L -> "SAME", 3L -> "SAME",
      4L -> "keep me")
    val res = CorpusPrep.dedupLines(all, "text", "doc_id", maxDocs = 2)
      .as[(Long, String)].collect().toMap
    assert(res === Map(4L -> "keep me"))

    // ...and whitespace-only trims count as the SAME line content (trim
    // normalization), while maxDocs at the threshold keeps the pair
    val pair = docs(1L -> "shared pair line \nmine", 2L -> " shared pair line\nyours")
    val kept = CorpusPrep.dedupLines(pair, "text", "doc_id", maxDocs = 2)
      .as[(Long, String)].collect().toMap
    assert(kept === Map(1L -> "shared pair line \nmine",
      2L -> " shared pair line\nyours"))
    val dropped = CorpusPrep.dedupLines(pair, "text", "doc_id", maxDocs = 1)
      .as[(Long, String)].collect().toMap
    assert(dropped === Map(1L -> "mine", 2L -> "yours"))
  }

  test("removeDupSpans splices duplicated spans out, merges overlaps, keep-first keeps one copy") {
    // docs 1 and 2 share an 8-word boilerplate run (grams w1..w8 at k=3:
    // six consecutive duplicated grams -> ONE merged 8-word span); doc 3
    // is untouched prose
    val corpus = docs(
      1L -> "intro one w1 w2 w3 w4 w5 w6 w7 w8 tail one",
      2L -> "different opening w1 w2 w3 w4 w5 w6 w7 w8 closing words here",
      3L -> "completely unrelated document content with no shared runs")
    val out = CorpusPrep.removeDupSpans(corpus, "text", "doc_id",
      k = 3, minDocs = 2, keepFirst = true)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    // keep-first: doc 1 (lowest id) keeps its copy; doc 2 loses the
    // whole contiguous span in one splice; doc 3 passes through
    assert(out(0) === ((1L, "intro one w1 w2 w3 w4 w5 w6 w7 w8 tail one", 0L)))
    assert(out(1) === ((2L, "different opening closing words here", 8L)))
    assert(out(2) === ((3L, "completely unrelated document content with no shared runs", 0L)))

    // keep-none strips every copy everywhere
    val none = CorpusPrep.removeDupSpans(corpus, "text", "doc_id",
      k = 3, minDocs = 2, keepFirst = false)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(none(0) === ((1L, "intro one tail one", 8L)))
    assert(none(1) === ((2L, "different opening closing words here", 8L)))

    // a doc at or under k tokens is ONE whole-doc gram: duplicated
    // short docs empty out entirely (keep-first saves the lowest id)
    val shorts = docs(1L -> "tiny dup", 2L -> "tiny dup", 3L -> "other")
    val sres = CorpusPrep.removeDupSpans(shorts, "text", "doc_id",
      k = 5, minDocs = 2, keepFirst = true)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(sres(0) === ((1L, "tiny dup", 0L)))
    assert(sres(1) === ((2L, "", 2L)))
    assert(sres(2) === ((3L, "other", 0L)))

    // within-ONE-doc repetition is not cross-document duplication
    val selfRep = docs(1L -> "loop a b c loop a b c loop a b c",
      2L -> "nothing shared with the first document at all")
    val rres = CorpusPrep.removeDupSpans(selfRep, "text", "doc_id",
      k = 3, minDocs = 2).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(rres.forall(_._3 === 0L))

    // minDocs threshold: a pair-shared gram survives minDocs = 3
    val pair = docs(1L -> "x shared run y", 2L -> "z shared run w",
      3L -> "shared elsewhere run")
    val pres = CorpusPrep.removeDupSpans(pair, "text", "doc_id",
      k = 2, minDocs = 3).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    assert(pres.forall(_._3 === 0L))
  }

  test("c4Filter: line rules drop boilerplate, page rules gate documents, every doc returned") {
    val corpus = docs(
      1L -> ("This is a perfectly reasonable first sentence.\n" +
        "short line\n" +                                 // < 5 words
        "Another long and complete sentence follows right here.\n" +
        "This line mentions javascript libraries and frameworks today.\n" + // javascript
        "no terminal punctuation on this long line at all\n" +  // no punct
        "And a third full sentence closes the document properly!"),
      2L -> "Lorem Ipsum dolor sit amet is placeholder text everywhere.", // page drop
      3L -> "A curly brace appears here { so the page drops entirely.",   // page drop
      4L -> ("Only two real sentences live in this document here.\n" +
        "And this second one is the last sentence present."),    // < 3 sentences
      5L -> "Please read our Privacy Policy before continuing to browse site.")
    val out = CorpusPrep.c4Filter(corpus, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    // doc 1: three sentence lines survive, three boilerplate lines drop
    assert(out(1L)._1 ===
      "This is a perfectly reasonable first sentence.\n" +
      "Another long and complete sentence follows right here.\n" +
      "And a third full sentence closes the document properly!")
    assert(out(1L)._2 === 3L && out(1L)._3 === 3L && out(1L)._4 === 1)
    // page drops: lorem ipsum (case-insensitive), curly brace, policy
    // phrase — the kept TEXT still reassembles (auditable gate)
    assert(out(2L)._4 === 0 && out(3L)._4 === 0 && out(5L)._4 === 0)
    assert(out(2L)._1.nonEmpty)
    // sentence minimum: two surviving sentences < 3 fails the page
    assert(out(4L)._2 === 2L && out(4L)._4 === 0)
    // every input doc comes back exactly once
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("repetitionStats: hand-computable signals") {
    val got = CorpusPrep.repetitionStats(
      docs(1L -> "a a a a", 2L -> "w x y z", 3L -> ""), "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "dup_word_ratio", "top_trigram_frac")
      .as[(Long, Int, Double, Double)].collect()
    // doc1: 4 tokens 1 distinct -> dup .75; trigrams ["a a a","a a a"] -> 1.0
    assert(got(0) === ((1L, 4, 0.75, 1.0)))
    // doc2: all distinct -> dup 0; trigrams 2 distinct of 2 -> top 0.5
    assert(got(1) === ((2L, 4, 0.0, 0.5)))
    // empty text: 0 tokens, ratios degrade to 0 / single-empty-gram 1.0
    assert(got(2) === ((3L, 0, 0.0, 1.0)))
  }

  test("chunkWords with stride == window reconstructs the document exactly") {
    val text = (1 to 107).map(i => s"w$i").mkString(" ")
    val chunks = CorpusPrep.chunkWords(docs(1L -> text), "text", "doc_id", 10, 10)
      .orderBy("chunk_idx").select("chunk_text").as[String].collect()
    assert(chunks.length === 11)
    assert(chunks.mkString(" ") === text)
  }

  test("chunkWords overlapping windows: counts and final short window") {
    val text = (1 to 50).map(i => s"t$i").mkString(" ")
    val got = CorpusPrep.chunkWords(docs(1L -> text), "text", "doc_id", 40, 30)
      .orderBy("chunk_idx")
      .select("chunk_idx", "n_chunk_tokens").as[(Int, Int)].collect()
    // ceil((50-40)/30)+1 = 2 chunks: [1..40], [31..50]
    assert(got === Array((0, 40), (1, 20)))
    // doc shorter than the window -> one whole-doc chunk
    val one = CorpusPrep.chunkWords(docs(2L -> "a b c"), "text", "doc_id", 40, 30)
    assert(one.count() === 1)
    assert(one.head().getAs[String]("chunk_text") === "a b c")
  }

  test("chunkTokens: greedy budget respected, reconstruction exact, oversized word isolated") {
    import graft.functions.TextFunctions
    // Scala reference for the documented token rule
    def cost(w: String): Long =
      "[A-Za-z]+".r.findAllIn(w).map(r => (r.length + 3) / 4).sum.toLong +
        w.count(_.isDigit) + w.count(c => !c.isLetterOrDigit)
    val text = "the quick brown-fox42 jumps over 13 lazy dogs, " +
      "supercalifragilisticexpialidocious and then some more words here " +
      "to make several chunks appear in the output stream okay"
    val got = CorpusPrep.chunkTokens(docs(1L -> text), "text", "doc_id", 8)
      .orderBy("chunk_idx")
      .select("chunk_idx", "n_chunk_tokens", "chunk_text")
      .as[(Int, Long, String)].collect()
    assert(got.nonEmpty)
    // indices are dense from 0, reconstruction is exact
    assert(got.map(_._1).toSeq === got.indices.toSeq)
    assert(got.map(_._3).mkString(" ") === text.trim.replaceAll("\\s+", " "))
    // every chunk's cost = sum of its word costs, and respects the budget
    // unless it is a single over-budget word
    got.foreach { case (i, n, t) =>
      val ws = t.split(" ")
      assert(n === ws.map(cost).sum, s"chunk $i cost")
      assert(n <= 8 || ws.length === 1, s"chunk $i over budget with ${ws.length} words")
    }
    // greedy: a chunk plus its successor's first word always overflows
    got.sliding(2).foreach {
      case Array((_, n, _), (_, _, t2)) =>
        assert(n + cost(t2.split(" ").head) > 8, "break must be forced")
      case _ =>
    }
    // a single word over the budget gets its own chunk
    val big = CorpusPrep.chunkTokens(
      docs(2L -> "a supercalifragilisticexpialidocious b"), "text", "doc_id", 3)
      .orderBy("chunk_idx").select("chunk_text").as[String].collect()
    assert(big.exists(_ === "supercalifragilisticexpialidocious"))
    // empty doc -> zero chunks; tokenEstimate matches the reference
    assert(CorpusPrep.chunkTokens(docs(3L -> "  "), "text", "doc_id", 8)
      .count() === 0L)
    val est = docs(4L -> text).select(
      TextFunctions.tokenEstimate(col("text"))).head().getLong(0)
    assert(est === text.trim.split("\\s+").map(cost).sum)
  }

  test("bm25TopK: hand-checked scores, rarity beats frequency, deterministic ties") {
    val corpus = docs(
      1L -> "data data data merge other words here",     // tf(data)=3, long-ish
      2L -> "data merge",                                 // short doc, both terms
      3L -> "other words entirely without the terms",
      4L -> "merge")                                      // rare-term-only doc
    val got = CorpusPrep.bm25TopK(corpus, "text", "doc_id",
      Seq("data", "merge"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 3 has no query terms — absent entirely
    assert(!got.contains(3L) && got.size === 3)
    // the Scala reference (same formula, same op order)
    val n = 4.0; val avgdl = (7 + 2 + 6 + 1) / 4.0
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def s(tf: Double, dl: Double, df: Double) =
      idf(df) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val exp1 = s(3, 7, 2) + s(1, 7, 3)   // df(data)=2, df(merge)=3
    val exp2 = s(1, 2, 2) + s(1, 2, 3)
    val exp4 = s(1, 1, 3)
    assert(math.abs(got(1L) - math.rint(exp1 * 1e6) / 1e6) < 2e-6)
    assert(math.abs(got(2L) - math.rint(exp2 * 1e6) / 1e6) < 2e-6)
    assert(math.abs(got(4L) - math.rint(exp4 * 1e6) / 1e6) < 2e-6)
    // the short doc with both terms outranks the long tf-heavy one
    // (length normalization) and the single-term doc
    assert(got(2L) > got(4L))
    // k truncates deterministically
    assert(CorpusPrep.bm25TopK(corpus, "text", "doc_id",
      Seq("data", "merge"), k = 1).count() === 1)
    intercept[IllegalArgumentException] {
      CorpusPrep.bm25TopK(corpus, "text", "doc_id", Nil, 5)
    }
  }

  test("temperatureMixture: downsample-only p^alpha rebalance, receipt exact, deterministic") {
    val s = spark; import s.implicits._
    // 600 / 300 / 100 docs — natural shares 0.6 / 0.3 / 0.1
    val big = (0L until 600L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val mid = (1000L until 1300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val small = (2000L until 2100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val (mixed, weights) = CorpusPrep.temperatureMixture(
      Seq("big" -> big, "mid" -> mid, "small" -> small),
      alpha = 0.5, "doc_id", seed = 42L)
    val w = weights.toMap
    // the binding (smallest) source keeps everything; w_i = sqrt(c_min/c_i)
    assert(w("small") === 1.0)
    assert(math.abs(w("mid") - math.sqrt(100.0 / 300.0)) < 1e-12)
    assert(math.abs(w("big") - math.sqrt(100.0 / 600.0)) < 1e-12)
    val counts = mixed.groupBy("mix_source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("small") === 100L, "binding source must keep every row")
    // kept_i ~ c_i * w_i = sqrt(c_min * c_i): 245 and 173 expected —
    // the hash draw is uniform, allow binomial slack
    assert(math.abs(counts("big") - math.sqrt(100.0 * 600.0)) < 40,
      s"big kept ${counts("big")}")
    assert(math.abs(counts("mid") - math.sqrt(100.0 * 300.0)) < 35,
      s"mid kept ${counts("mid")}")
    // deterministic: the same seed reproduces the exact membership
    val (mixed2, _) = CorpusPrep.temperatureMixture(
      Seq("big" -> big, "mid" -> mid, "small" -> small),
      alpha = 0.5, "doc_id", seed = 42L)
    assert(mixed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      mixed2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // alpha = 1 keeps natural shares (every weight 1)
    val (_, natural) = CorpusPrep.temperatureMixture(
      Seq("big" -> big, "small" -> small), alpha = 1.0, "doc_id", 42L)
    assert(natural.forall(_._2 === 1.0))
    intercept[IllegalArgumentException] {
      CorpusPrep.temperatureMixture(Seq("big" -> big), alpha = 2.0,
        "doc_id", 42L)
    }
  }

  test("chunkTokens and the quality gate are narrow maps: no exchange before the explode") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sf())
    val chunkPlan = CorpusPrep.chunkTokens(docs, "text", "doc_id", 24)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), chunkPlan)
    val gatePlan = docs.select(col("doc_id"),
      TextFunctions.qualityLogit(col("text"),
        TextFunctions.derivedQualityWeights(1024)).as("logit"))
      .queryExecution.executedPlan.toString
    assert(!gatePlan.contains("Exchange"), gatePlan)
  }

  test("chunkTokensSliding: stride overlap, start-offset membership, degenerate = partition") {
    import graft.functions.TextFunctions
    def cost(w: String): Long =
      "[A-Za-z]+".r.findAllIn(w).map(r => (r.length + 3) / 4).sum.toLong +
        w.count(_.isDigit) + w.count(c => !c.isLetterOrDigit)
    val text = (1 to 40).map(i => s"word$i").mkString(" ")  // cost 2 each
    val got = CorpusPrep.chunkTokensSliding(
      docs(1L -> text), "text", "doc_id", window = 16, stride = 8)
      .orderBy("window_idx")
      .select("window_idx", "n_window_tokens", "window_text")
      .as[(Int, Long, String)].collect()
    assert(got.nonEmpty)
    // the Scala reference: word i (0-based) starts at offset 2i and
    // belongs to window k iff 8k <= 2i < 8k + 16
    val words = text.split(" ")
    val offs = words.scanLeft(0L)((a, w) => a + cost(w)).dropRight(1)
    val ref = (for {
      (w, o) <- words.zip(offs)
      k <- (math.max(0L, math.floorDiv(o - 16, 8) + 1) to o / 8)
    } yield (k.toInt, w)).groupBy(_._1).map { case (k, ws) =>
      (k, ws.map(x => cost(x._2)).sum, ws.map(_._2).mkString(" "))
    }.toSeq.sortBy(_._1)
    assert(got.toSeq === ref, "sliding windows must match the reference")
    // overlap: interior words appear in exactly window/stride = 2 windows
    val appearances = got.flatMap(_._3.split(" ")).groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(appearances("word20") === 2)
    // stride == window degrades to a partition that reconstructs the doc
    val part = CorpusPrep.chunkTokensSliding(
      docs(2L -> text), "text", "doc_id", window = 16, stride = 16)
      .orderBy("window_idx").select("window_text").as[String].collect()
    assert(part.mkString(" ") === text)
    intercept[IllegalArgumentException] {
      CorpusPrep.chunkTokensSliding(docs(3L -> text), "text", "doc_id", 8, 16)
    }
  }

  test("packTokens: concat-then-slice budgeted in estimated tokens") {
    val rows = (1 to 40).map(i => (i.toLong, s"word$i " * i))
    val df = rows.toDF("doc_id", "text")
    val got = CorpusPrep.packTokens(df, "doc_id", "text", budget = 50)
      .orderBy("doc_id")
      .select("doc_id", "est_tokens", "start_offset", "pack_first", "pack_last")
      .as[(Long, Long, Long, Long, Long)].collect()
    // offsets chain exactly in doc order
    got.sliding(2).foreach {
      case Array((_, n, off, _, _), (_, _, off2, _, _)) =>
        assert(off2 === off + n)
      case _ =>
    }
    // pack spans honor the budget arithmetic
    got.foreach { case (_, n, off, pf, pl) =>
      assert(pf === off / 50)
      assert(pl === math.max(off + n - 1, off) / 50)
    }
  }

  test("exclusivePrefixSum matches the sequential scan on random input") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map(i => (i.toLong * 3 + 7, rnd.nextInt(100).toLong))
    val df = rows.toDF("k", "v").repartition(7)
    for (nBuckets <- Seq(1, 4, 64, 1000)) {
      val got = CorpusPrep.exclusivePrefixSum(df, "k", "v", nBuckets)
        .orderBy("k").select("k", "prefix_sum").as[(Long, Long)].collect()
      val sorted = rows.sortBy(_._1)
      val expected = sorted.map(_._1)
        .zip(sorted.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
      assert(got.toSeq === expected, s"nBuckets=$nBuckets")
    }
  }

  test("skew-robust prefix sum: parity on a pathological key distribution") {
    // 90% of keys packed into [0,900), the rest exploded out to 1e12 —
    // uniform width buckets would put ~everything in bucket 1
    val rnd = new scala.util.Random(7)
    val rows = ((0 until 900).map(_.toLong) ++
      (0 until 100).map(i => 1_000_000_000L + i.toLong * 10_000_000_000L))
      .map(k => (k, rnd.nextInt(50).toLong))
    val df = rows.toDF("k", "v").repartition(5)
    val got = CorpusPrep.exclusivePrefixSum(df, "k", "v", 16, skewRobust = true)
      .orderBy("k").select("k", "prefix_sum").as[(Long, Long)].collect()
    val sorted = rows.sortBy(_._1)
    val expected = sorted.map(_._1)
      .zip(sorted.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    assert(got.toSeq === expected)
    // and the buckets actually balance: no bucket holds > 3x the ideal share
    val counts = df.withColumn("b", CorpusPrep.quantileBucket(df, "k", 16))
      .groupBy("b").count().select("count").as[Long].collect()
    assert(counts.max <= 3 * (1000 / 16),
      s"skew-robust buckets should balance, got ${counts.sorted.reverse.toSeq}")
  }

  test("string (uuid) order keys: prefix sum matches the sequential scan") {
    val rows = (0 until 400).map { i =>
      val uuid = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (uuid, (i % 37).toLong)
    }
    val got = CorpusPrep.exclusivePrefixSum(
        rows.toDF("k", "v").repartition(6), "k", "v", 8)
      .orderBy("k").select("k", "prefix_sum").as[(String, Long)].collect()
    val sorted = rows.sortBy(_._1) // ascii hex: String order == UTF8 order
    val expected = sorted.map(_._1)
      .zip(sorted.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    assert(got.toSeq === expected)
  }

  test("exclusivePrefixSum handles double-typed values exactly") {
    val rows = (0 until 100).map(i => (i.toLong, i * 0.25))
    val got = CorpusPrep.exclusivePrefixSum(rows.toDF("k", "v"), "k", "v", 8)
      .orderBy("k").select("k", "prefix_sum").as[(Long, Double)].collect()
    val expected = rows.map(_._1)
      .zip(rows.map(_._2).scanLeft(0.0)(_ + _).dropRight(1))
    assert(got.toSeq === expected)
  }

  test("exclusivePrefixSum never funnels through a single-partition window") {
    val df = (0 until 100).map(i => (i.toLong, 1L)).toDF("k", "v")
    val plan = CorpusPrep.exclusivePrefixSum(df, "k", "v", 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global window would be a scale funnel:\n$plan")
  }

  test("packConcat: offsets chain and pack spans honor the budget") {
    val rows = Seq((1L, 100L), (2L, 400L), (3L, 50L), (4L, 600L), (5L, 10L))
    val got = CorpusPrep.packConcat(rows.toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", budget = 512, nBuckets = 3)
      .orderBy("doc_id")
      .select("doc_id", "start_offset", "pack_first", "pack_last")
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 0L, 0L, 0L),        // [0,100)    pack 0
      (2L, 100L, 0L, 0L),      // [100,500)  pack 0
      (3L, 500L, 0L, 1L),      // [500,550)  straddles the 512 cut
      (4L, 550L, 1L, 2L),      // [550,1150) straddles 1024
      (5L, 1150L, 2L, 2L)))
  }

  test("packConcat: zero-token doc occupies a single pack at its offset") {
    val got = CorpusPrep.packConcat(
        Seq((1L, 512L), (2L, 0L), (3L, 5L)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", budget = 512, nBuckets = 2)
      .orderBy("doc_id")
      .select("doc_id", "start_offset", "pack_first", "pack_last")
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((1L, 0L, 0L, 0L), (2L, 512L, 1L, 1L), (3L, 512L, 1L, 1L)))
  }

  test("tfidfTopTerms ranks the distinctive term first and drops stopwords") {
    val corpus = docs(
      1L -> "the spark engine shuffles data and the engine optimizes engine plans",
      2L -> "the cat sat on the mat with the cat",
      3L -> "data plans and data mat")
    val got = CorpusPrep.tfidfTopTerms(corpus, "text", "doc_id", 2)
    val byDoc = got.orderBy("doc_id", "rank")
      .select("doc_id", "rank", "term").as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSeq).toMap
    assert(byDoc(1L).head === "engine") // tf 3, unique to doc 1
    assert(byDoc(2L).head === "cat")    // tf 2, unique to doc 2
    // stopwords never surface
    assert(!got.select("term").as[String].collect()
      .exists(TextFunctions_stopwords.contains))
    // ranks are dense from 1
    assert(got.where(col("rank") === 1).count() === 3)
  }

  private val TextFunctions_stopwords =
    graft.functions.TextFunctions.stopwords.toSet

  test("shuffleOrder: a deterministic permutation, parallel plan") {
    val s = spark; import s.implicits._
    val docs = (0L until 500L).toDF("id")
    val got = graft.operators.CorpusPrep
      .shuffleOrder(docs, "id", seed = 9L, nBuckets = 8)
    val rows = got.collect().map(r => r.getLong(0) -> r.getLong(1))
    // a permutation: positions are exactly 0..n-1
    assert(rows.map(_._2).sorted.toSeq === (0L until 500L))
    // equals the global md5 rank
    val expect = (0L until 500L)
      .sortBy(id => org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"9:$id"))
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    rows.foreach { case (id, pos) => assert(pos === expect(id), s"id $id") }
    // rerun-stable
    assert(graft.operators.CorpusPrep
      .shuffleOrder(docs, "id", seed = 9L, nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === rows.toMap)
    // a different seed is a different permutation
    assert(graft.operators.CorpusPrep
      .shuffleOrder(docs, "id", seed = 10L, nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap !== rows.toMap)
    // never a single-task global window
    assert(!got.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("sampledBucket stays balanced on a corpus much larger than its sample") {
    // regression: fraction-calibrated sampling — the old orderBy+limit
    // kept only the SMALLEST sampled keys, so past ~limit/fraction rows
    // every boundary fell in the low tail and the last bucket held
    // nearly the whole corpus (a single-task funnel at scale)
    val docs = spark.range(0, 80000)
      .select(md5(concat_ws(":", lit("s"), col("id").cast("string"))).as("k"))
    val b = graft.operators.CorpusPrep.sampledBucket(docs, "k", 16)
    val sizes = docs.withColumn("__b", b).groupBy(col("__b")).count()
      .collect().map(_.getLong(1))
    assert(sizes.length >= 12, s"expected ~16 populated buckets: ${sizes.length}")
    assert(sizes.max <= 80000 / 16 * 3,
      s"bucket imbalance (max ${sizes.max} of 80000) — boundary collapse")
  }

  test("mixture: weight-1 complete, fractional sources deterministic, no shuffle") {
    val s = spark; import s.implicits._
    val docs = (0L until 3000L).toDF("id")
    val mixed = graft.operators.CorpusPrep.mixture(Seq(
      ("full", docs.where($"id" % 3 === 0), 1.0),
      ("half", docs.where($"id" % 3 === 1), 0.5),
      ("none", docs.where($"id" % 3 === 2), 0.0)), "id", seed = 3L)
    val by = mixed.collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(by("full") === (0L until 3000L by 3).toSet)
    assert(!by.contains("none"))
    val half = by("half")
    // deterministic: rerun identical; ratio near the weight
    assert(graft.operators.CorpusPrep.mixture(Seq(
      ("half", docs.where($"id" % 3 === 1), 0.5)), "id", seed = 3L)
      .collect().map(_.getLong(0)).toSet === half)
    assert(math.abs(half.size / 1000.0 - 0.5) < 0.1, s"got ${half.size}")
    // map-side: no exchange anywhere in the plan
    assert(!mixed.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("rrfFuse: hand-computed fusion, absent-list zero, id tiebreak") {
    val s = spark; import s.implicits._
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "r")
    val b = Seq((20L, 1), (40L, 2)).toDF("id", "r")
    val out = CorpusPrep.rrfFuse(Seq("x" -> a, "y" -> b), "id", "r",
      k = 10, rrfK = 60).collect()
    val byId = out.map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)), r.getDouble(3))).toMap
    // doc 20 is in both lists: 1/62 + 1/61
    assert(byId(20L)._3 ===
      math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6)
    // absent from a list -> null rank, zero contribution
    assert(byId(40L) === ((None, Some(2), math.rint(1.0 / 62 * 1e6) / 1e6)))
    assert(byId(10L) === ((Some(1), None, math.rint(1.0 / 61 * 1e6) / 1e6)))
    // 10 (x-rank 1) and 40 (y-rank... ) tie cases: 10 vs 20's order
    val ordered = out.map(_.getLong(0)).toSeq
    assert(ordered.head === 20L, s"both-list doc must lead: $ordered")
    // equal scores (x rank 1 alone vs y rank 1 alone) break on id:
    // 10 scores 1/61, as would a y-only rank-1 — here 10 > 40 by score
    assert(ordered === Seq(20L, 10L, 40L, 30L))
  }

  test("quantilePrune matches the row_number rule exactly, both directions") {
    val s = spark; import s.implicits._
    // heavy ties ON the cutoff: scores collide across groups and inside
    val rows = (0L until 400L).map { i =>
      (i, if (i % 2 == 0) "g0" else "g1", (i * 7919 % 13).toInt)
    }
    val df = rows.toDF("id", "g", "score")
    for (asc <- Seq(true, false); frac <- Seq(0.25, 0.5, 1.0)) {
      val got = CorpusPrep.quantilePrune(df, "g", "score", "id", frac, asc)
        .select("id", "kept").as[(Long, Int)].collect().toMap
      // independent reference: the one-window formulation
      val ord = if (asc) Seq(col("score").asc, col("id").asc)
                else Seq(col("score").desc, col("id").asc)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(ord: _*)
      val wantDf = df
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
        .select(col("id"),
          (col("rn") <= ceil(col("n") * frac)).cast("int").as("kept"))
      val want = wantDf.as[(Long, Int)].collect().toMap
      assert(got === want, s"asc=$asc frac=$frac")
      assert(got.size === 400, "every row returns with a flag")
    }
  }

  test("quantilePrune: only the straddling tie block is ever id-sorted") {
    val s = spark; import s.implicits._
    // one group, 10 rows of score 1, 10 of score 2: frac=0.75 cuts at 15,
    // INSIDE the score-2 block -> ids 10..14 of that block keep
    val df = (0L until 20L).map(i => (i, "g", if (i < 10) 1 else 2))
      .toDF("id", "g", "score")
    val kept = CorpusPrep.quantilePrune(df, "g", "score", "id", 0.75)
      .where(col("kept") === 1).select("id").as[Long].collect().toSet
    assert(kept === (0L until 15L).toSet)
    // degenerate: ALL one score -> the tie block is the group, still exact
    val flat = (0L until 9L).map(i => (i, "g", 5)).toDF("id", "g", "score")
    val k2 = CorpusPrep.quantilePrune(flat, "g", "score", "id", 1.0 / 3)
      .where(col("kept") === 1).select("id").as[Long].collect().toSet
    assert(k2 === Set(0L, 1L, 2L))
  }

  test("diversityStats: hand-computed vocabularies, empty and 1-token docs") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "a", "x y x"),       // tokens 3, bigrams: "x y","y x"
      (2L, "a", "x"),           // 1 token, 0 bigrams
      (3L, "a", "  "),          // empty after trim
      (4L, "b", "p q p q"))     // tokens 4, bigrams "p q","q p","p q"
      .toDF("doc_id", "src", "text")
    val out = CorpusPrep.diversityStats(df, "text", "src", "doc_id")
      .orderBy("src").collect()
    val aRow = out(0); val bRow = out(1)
    assert(aRow.getString(0) === "a")
    assert((aRow.getLong(1), aRow.getLong(2), aRow.getLong(3)) === ((3L, 4L, 2L)))
    assert((aRow.getLong(4), aRow.getLong(5)) === ((2L, 2L)))   // {x,y}; {"x y","y x"}
    assert(aRow.getDouble(6) === 0.5)                            // 2/4
    assert(aRow.getDouble(7) === 1.0)                            // 2/2
    assert((bRow.getLong(1), bRow.getLong(2), bRow.getLong(3)) === ((1L, 4L, 3L)))
    assert((bRow.getLong(4), bRow.getLong(5)) === ((2L, 2L)))   // {p,q}; {"p q","q p"}
    assert(bRow.getDouble(6) === 0.5)
    assert(bRow.getDouble(7) === math.rint(2.0 / 3 * 1e6) / 1e6)
  }

  test("vocabulary boundary is deterministic; oovStats keeps empty docs") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "aa aa aa bb bb cc"),
      (2L, "bb cc dd"),
      (3L, "  "),
      (4L, "zz")).toDF("doc_id", "text")
    // counts: aa=3 bb=3 cc=2 dd=1 zz=1 — topV=3 cuts inside the
    // (cc=2 vs nothing) and the dd/zz=1 tie would cut lexicographically
    val v3 = CorpusPrep.vocabulary(df, "text", 3)
      .as[(String, Long)].collect().toSeq
    assert(v3 === Seq(("aa", 3L), ("bb", 3L), ("cc", 2L)))
    val v4 = CorpusPrep.vocabulary(df, "text", 4)
      .as[(String, Long)].collect().toSeq
    assert(v4.last === (("dd", 1L)), "count tie breaks lexicographically")
    val oov = CorpusPrep.oovStats(df, "text", "doc_id",
        CorpusPrep.vocabulary(df, "text", 3))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(oov === Seq(
      (1L, 6L, 0L, 0L),
      (2L, 3L, 1L, 333333L),       // dd is OOV: floor(1/3 * 1e6)
      (3L, 0L, 0L, 0L),            // empty doc present at 0/0
      (4L, 1L, 1L, 1000000L)))
    // the vocab side broadcasts
    val plan = CorpusPrep.oovStats(df, "text", "doc_id",
      CorpusPrep.vocabulary(df, "text", 3)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$plan")
  }

  test("topKPerGroup and sampleExactK: exact counts, replayable membership") {
    val s = spark; import s.implicits._
    val df = (0L until 100L).map(i => (i, s"g${i % 3}", (i % 7).toInt))
      .toDF("id", "g", "score")
    // absolute-k keep rule == the row_number formulation
    val got = CorpusPrep.topKPerGroup(df, "g", "score", "id", k = 10)
      .select("id", "kept").as[(Long, Int)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").asc, col("id").asc)
    val want = df.withColumn("rn", row_number().over(w))
      .select(col("id"), (col("rn") <= 10).cast("int").as("kept"))
      .as[(Long, Int)].collect().toMap
    assert(got === want)
    // k beyond the group size keeps everything
    assert(CorpusPrep.topKPerGroup(df, "g", "score", "id", k = 1000)
      .where(col("kept") === 1).count() === 100)
    // exact-k sampling: exactly min(k, n) kept per group, deterministic
    val samp = CorpusPrep.sampleExactK(df.select("id", "g"), "g", "id",
      k = 5, seed = 3L)
    val byG = samp.where(col("kept") === 1).groupBy("g").count()
      .as[(String, Long)].collect().toMap
    assert(byG.values.toSet === Set(5L))
    val again = CorpusPrep.sampleExactK(df.select("id", "g"), "g", "id",
      k = 5, seed = 3L).where(col("kept") === 1)
      .select("id").as[Long].collect().toSet
    val first = samp.where(col("kept") === 1)
      .select("id").as[Long].collect().toSet
    assert(again === first)
    // a different seed picks a different 15
    val other = CorpusPrep.sampleExactK(df.select("id", "g"), "g", "id",
      k = 5, seed = 4L).where(col("kept") === 1)
      .select("id").as[Long].collect().toSet
    assert(other !== first)
    // the hash helper column never leaks into the output
    assert(!samp.columns.contains("__h"))
  }

  test("pmiPairs: hand-computed document-cooccurrence PMI") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"),
      (3L, "alpha gamma"), (4L, "delta gamma"))
      .toDF("doc_id", "text")
    val out = CorpusPrep.pmiPairs(df, "text", "doc_id",
        topVocab = 10, minPairCount = 1, k = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // dfs: alpha 3, beta 2, gamma 2, delta 1; N = 4
    def pmi(ab: Long, a: Long, b: Long) =
      math.rint(math.log(ab * 4.0 / (a * b)) * 1e6) / 1e6
    assert(out === Seq(
      ("delta", "gamma", 1L, 1L, 2L, pmi(1, 1, 2)),   // ln 2
      ("alpha", "beta", 2L, 3L, 2L, pmi(2, 3, 2)),    // ln(8/6)
      ("alpha", "gamma", 1L, 3L, 2L, pmi(1, 3, 2))))  // ln(2/3)
  }

  test("heavyHitters: exact when capacity >= distinct; MG bounds on skew") {
    val s = spark; import s.implicits._
    import graft.functions.Udx
    // exactness lane: 5 distinct terms, capacity 16, many partitions so
    // the agg-merge path runs
    val terms = (0L until 1000L).map(i => s"t${i % 5}")
      .toDF("t").repartition(7)
    val exact = Udx.heavyHitters(16)
    val got = terms.agg(exact(col("t")).as("h"))
      .select(explode(col("h"))).select("col.term", "col.cnt")
      .as[(String, Long)].collect().toMap
    assert(got === (0 until 5).map(i => s"t$i" -> 200L).toMap)
    // bounded-budget lane: one hot term among 50 cold ones, capacity 8.
    // n = 10000, so any reported count undercounts by <= n/(c+1) ~ 1112
    // and the hot term (5000 > 1112) must be present
    val skew = ((0L until 5000L).map(_ => "hot") ++
      (0L until 5000L).map(i => s"cold${i % 50}"))
      .toDF("t").repartition(7)
    val mg = Udx.heavyHitters(8)
    val hh = skew.agg(mg(col("t")).as("h"))
      .select(explode(col("h"))).select("col.term", "col.cnt")
      .as[(String, Long)].collect()
    assert(hh.length <= 8, s"budget blown: ${hh.length}")
    val hot = hh.find(_._1 == "hot")
    assert(hot.isDefined, s"true heavy hitter evicted: ${hh.toSeq}")
    assert(hot.get._2 >= 5000L - 10000L / 9 && hot.get._2 <= 5000L,
      s"count ${hot.get._2} outside the MG band")
  }

  test("sourceOverlap: hand-computed matrix including the zero pair") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "a", "w1 w2 w3 w4"),     // shingles(3): "w1 w2 w3","w2 w3 w4"
      (2L, "a", "w1 w2 w3"),        // "w1 w2 w3" (dup within group -> distinct)
      (3L, "b", "w2 w3 w4 w5"),     // "w2 w3 w4","w3 w4 w5"
      (4L, "c", "x y z"))           // "x y z" — overlaps nothing
      .toDF("doc_id", "src", "text")
    val out = CorpusPrep.sourceOverlap(df, "text", "src", k = 3)
      .orderBy("source_a", "source_b")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // a={w123,w234} b={w234,w345} c={xyz}
    assert(out === Seq(
      ("a", "b", 2L, 2L, 1L, 333333L),   // floor(1/3 * 1e6)
      ("a", "c", 2L, 1L, 0L, 0L),
      ("b", "c", 2L, 1L, 0L, 0L)))
    // the gram-distinct subtree feeds three consumers (sizes + both join
    // sides); the explicit __g repartition canonicalizes them so the
    // runtime plan REUSES the exchange (this Spark surfaces that as
    // ReusedExchange nodes wrapping fresh stage ids, one per consumer)
    val executed = CorpusPrep.sourceOverlap(df, "text", "src", k = 3)
      .queryExecution
    executed.executedPlan.execute() // force AQE finalization via an action
    val reused = "ReusedExchange".r
      .findAllMatchIn(executed.executedPlan.toString).size
    assert(reused >= 2,
      s"expected the gram exchange reused across consumers:\n" +
        executed.executedPlan.toString.take(2000))
  }

  test("leakageSafeSplit: train twins of test docs flagged, nothing else") {
    val s = spark; import s.implicits._
    // several duplicate groups: across whatever split the hash picks,
    // a train doc is leaked IFF its fingerprint appears in test
    val df = (0L until 120L).map(i => (i, s"shared text ${i % 12}"))
      .toDF("doc_id", "text")
    val out = CorpusPrep.leakageSafeSplit(df, "text", "doc_id", 0.3, seed = 5L)
      .as[(Long, String, Int)].collect()
    assert(out.length === 120, "every doc returns")
    val splitOf = out.map(r => r._1 -> r._2).toMap
    val testGroups = (0L until 120L)
      .filter(i => splitOf(i) == "test").map(_ % 12).toSet
    assert(testGroups.nonEmpty && testGroups.size < 12,
      s"fixture must split groups across the boundary: $testGroups")
    out.foreach { case (id, split, leaked) =>
      val expect = split == "train" && testGroups.contains(id % 12)
      assert(leaked === (if (expect) 1 else 0), s"doc $id ($split)")
    }
    // deterministic: same seed, same membership
    val again = CorpusPrep.leakageSafeSplit(df, "text", "doc_id", 0.3, 5L)
      .as[(Long, String, Int)].collect()
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("hybridTopK: fused ranks agree with the two retrievers run alone") {
    val s = spark; import s.implicits._
    graft.plans.CosineSimilarity.register(s)
    val docs = Seq(
      (0L, "data merge window data"),
      (1L, "data only here"),
      (2L, "window window merge"),
      (3L, "nothing relevant at all"),
      (4L, "merge data")).toDF("doc_id", "text")
    val embs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)),
      (3L, Seq(0.8f, 0.2f)), (4L, Seq(-1f, 0f)), (7L, Seq(1f, 0.05f)))
      .toDF("vec_id", "embedding")
    val fused = CorpusPrep.hybridTopK(docs, "text", "doc_id",
      embs, "embedding", "vec_id", Seq("data", "merge", "window"),
      embs.where(col("vec_id") === 7L), k = 6, nCand = 4, native = true)
      .collect()
    // doc 3 has no query terms -> bm25_rank null but a dense rank
    val d3 = fused.find(_.getLong(0) == 3L).get
    assert(d3.isNullAt(1) && !d3.isNullAt(2))
    // every fused score is the sum of its two rank reciprocals
    fused.foreach { r =>
      val exp = (Option(r.get(1)).map(v => 1.0 / (60 + v.asInstanceOf[Int]))
        .getOrElse(0.0)) +
        (Option(r.get(2)).map(v => 1.0 / (60 + v.asInstanceOf[Int]))
          .getOrElse(0.0))
      assert(r.getDouble(3) === math.rint(exp * 1e6) / 1e6, s"row $r")
    }
    // descending by fused score
    val scores = fused.map(_.getDouble(3)).toSeq
    assert(scores === scores.sorted.reverse)
  }

  test("bm25 stats view: ingests build none; the statsFromView probe refreshes it and scores exactly") {
    val corpus = docs(
      1L -> "data data data merge other words here",
      2L -> "merge window data something else entirely goes on",
      3L -> "window window merge data data then more",
      4L -> "nothing relevant at all in this one",
      5L -> "data merge window data window tail",
      6L -> "",
      7L -> "window data late arrival")
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25view").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root,
      corpus.where(col("doc_id") <= 3), "text", "doc_id")
    CorpusPrep.bm25IndexIngest(root,
      corpus.where(col("doc_id") > 3 && col("doc_id") <= 5), "text", "doc_id")
    CorpusPrep.bm25IndexIngest(root,
      corpus.where(col("doc_id") > 5), "text", "doc_id")
    val aggview = java.nio.file.Paths.get(s"$root/doclen/aggview")
    def viewDirs: Seq[String] =
      if (!java.nio.file.Files.exists(aggview)) Nil
      else {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(aggview)
        try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
        finally s.close()
      }
    assert(!viewDirs.exists(_.matches("v\\d+")),
      s"an ingest built stats view versions: $viewDirs")

    val q = Seq("data", "merge", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fromView = rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10,
      statsFromView = true))
    assert(fromView === rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10)))
    assert(fromView === rows(CorpusPrep.bm25TopK(corpus, "text", "doc_id", q, 10)))
    // the probe caught the view up to the latest doclen version, and
    // left no stage dir behind
    val doclenVs = graft.streaming.CdcMergeSink.versions(s"$root/doclen")
    assert(doclenVs.nonEmpty)
    assert(graft.streaming.AggView.viewVersions(s"$root/doclen").lastOption ===
      doclenVs.lastOption)
    assert(viewDirs.forall(d => d.matches("v\\d+") || d == "_spec"), viewDirs)
  }

  private val bm25Corpus = Seq(
    1L -> "data data data merge other words here",
    2L -> "merge window data something else entirely goes on",
    3L -> "window window merge data data then more",
    4L -> "nothing relevant at all in this one",
    5L -> "data merge window data window tail",
    6L -> "",
    7L -> "window data late arrival")

  private def bm25Rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("bm25 stats view on a seeded index with no ingest equals the doclen scan") {
    val corpus = docs(bm25Corpus: _*)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25seedview").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root, corpus, "text", "doc_id")
    val q = Seq("data", "merge", "window")
    val scan = bm25Rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10))
    assert(scan.nonEmpty)
    assert(scan === bm25Rows(CorpusPrep.bm25TopK(corpus, "text", "doc_id", q, 10)))
    assert(bm25Rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10,
      statsFromView = true)) === scan)
  }

  test("bm25TopKIndexed: three jobs per probe; absent, duplicate and mixed-case terms score exactly") {
    val corpus = docs(bm25Corpus: _*)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25jobs").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root,
      corpus.where(col("doc_id") <= 3), "text", "doc_id")
    CorpusPrep.bm25IndexIngest(root,
      corpus.where(col("doc_id") > 3), "text", "doc_id")
    val q = Seq("data", "merge", "window")
    val (got, jobs) = JobLog.recording(spark)(
      bm25Rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10)))
    assert(got === bm25Rows(CorpusPrep.bm25TopK(corpus, "text", "doc_id", q, 10)))
    assert(jobs.size <= 3, s"${jobs.size} jobs: ${jobs.map(_.names)}")
    // no query term in the index: the stats pass alone, an empty answer
    val (none, noneJobs) = JobLog.recording(spark)(
      CorpusPrep.bm25TopKIndexed(spark, root, Seq("absentword"), 10).collect())
    assert(none.isEmpty)
    assert(noneJobs.size <= 1, s"${noneJobs.size} jobs: ${noneJobs.map(_.names)}")
    for (terms <- Seq(Seq("absentword"), Seq("data", "absentword"),
                      Seq("Data", "data", "WINDOW", "window"), Seq("late"));
         fromView <- Seq(false, true))
      assert(bm25Rows(CorpusPrep.bm25TopKIndexed(spark, root, terms, 10,
          statsFromView = fromView)) ===
        bm25Rows(CorpusPrep.bm25TopK(corpus, "text", "doc_id", terms, 10)),
        s"terms $terms, statsFromView = $fromView")
  }

  test("bm25TopKIndexed: an ingest between the call and collect does not mix snapshots") {
    val corpus = docs(bm25Corpus: _*)
    val early = corpus.where(col("doc_id") <= 4)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25pin").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root, corpus.where(col("doc_id") <= 2),
      "text", "doc_id")
    CorpusPrep.bm25IndexIngest(root,
      corpus.where(col("doc_id") > 2 && col("doc_id") <= 4), "text", "doc_id")
    val q = Seq("data", "window")
    val want = bm25Rows(CorpusPrep.bm25TopK(early, "text", "doc_id", q, 10))
    val pending = Seq(false, true).map(v =>
      v -> CorpusPrep.bm25TopKIndexed(spark, root, q, 10, statsFromView = v))
    // the later docs change every term's df, N and avgdl
    CorpusPrep.bm25IndexIngest(root,
      corpus.where(col("doc_id") > 4), "text", "doc_id")
    pending.foreach { case (v, df) =>
      assert(bm25Rows(df) === want, s"statsFromView = $v")
    }
    assert(bm25Rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10)) ===
      bm25Rows(CorpusPrep.bm25TopK(corpus, "text", "doc_id", q, 10)))
  }

  test("bm25 index: seed + ingest + indexed probe equals the batch recompute") {
    val corpus = docs(
      1L -> "data data data merge other words here",
      2L -> "merge window data something else entirely goes on",
      3L -> "window window merge data data then more",
      4L -> "nothing relevant at all in this one",
      5L -> "data merge window data window tail",
      6L -> "")
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25spec").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root,
      corpus.where(col("doc_id") <= 3), "text", "doc_id")
    CorpusPrep.bm25IndexIngest(root,
      corpus.where(col("doc_id") > 3), "text", "doc_id")
    val q = Seq("data", "merge", "window")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = rows(CorpusPrep.bm25TopK(corpus, "text", "doc_id", q, 10))
    val indexed = rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10))
    assert(indexed === batch,
      "index-served scores must equal the batch recompute exactly")
    // re-ingesting the same batch is idempotent
    CorpusPrep.bm25IndexIngest(root,
      corpus.where(col("doc_id") > 3), "text", "doc_id")
    assert(rows(CorpusPrep.bm25TopKIndexed(spark, root, q, 10)) === batch)
    // the postings table carries term dim zone maps for file pruning
    import graft.sources.MutableParquetTable
    assert(MutableParquetTable.manifestDimRanges(
      graft.streaming.CdcMergeSink.latestSnapshot(s"$root/postings"))
      .contains("term"))
    // N and avgdl count EVERY doc, including the empty one
    val n = spark.read.format("graft").load(s"$root/doclen").count()
    assert(n === 6L)
    // term-clustered multi-file index: a 3-term probe's postings scan
    // file-prunes (reads a strict subset) and still scores identically
    val root8 = java.nio.file.Files
      .createTempDirectory("graft-bm25prune").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root8, corpus, "text", "doc_id",
      indexFiles = 8)
    assert(rows(CorpusPrep.bm25TopKIndexed(spark, root8, q, 10)) === batch)
    // receipt from the probe's postings-scan shape alone (the probe
    // also scans doclen, which would overwrite lastScanFiles)
    spark.read.format("graft").load(s"$root8/postings")
      .where(col("term").isin(q: _*)).collect(): Unit
    val read = graft.sources.GraftSource.lastScanFiles.size
    val total = MutableParquetTable.manifestFileNames(
      graft.streaming.CdcMergeSink.latestSnapshot(s"$root8/postings"))
      .map(_.size).getOrElse(0)
    assert(total >= 4, s"fixture must spread postings (got $total files)")
    assert(read < total, s"probe must prune files ($read of $total read)")
  }

  test("chunkSentences: whole sentences only, budget respected, coverage exact") {
    val text = "One two three. Four five six seven eight! " +
      "Nine ten? Eleven twelve thirteen fourteen fifteen sixteen " +
      "seventeen eighteen nineteen twenty. Done"
    // sentences: 3 / 5 / 2 / 10 / 1 words
    val got = CorpusPrep.chunkSentences(docs(1L -> text), "text", "doc_id", 8)
      .orderBy("chunk_idx")
      .select("chunk_idx", "n_chunk_words", "chunk_text")
      .as[(Int, Long, String)].collect()
    // greedy: [3+5], [2], [10 alone, over budget], [1]
    assert(got.map(_._2).toSeq === Seq(8L, 2L, 10L, 1L))
    assert(got.map(_._1).toSeq === got.indices.toSeq)
    // every chunk boundary is a sentence boundary: chunk text ends with
    // a mark or is the unterminated tail, and reconstruction is exact
    assert(got.map(_._3).mkString(" ") === text.trim.replaceAll("\\s+", " "))
    got.dropRight(1).foreach { case (i, _, t) =>
      assert(t.matches(".*[.!?]$"), s"chunk $i must end at a sentence mark")
    }
    // a chunk exceeds the budget only when it is a single sentence
    got.foreach { case (i, n, t) =>
      assert(n <= 8 || !t.dropRight(1).exists(".!?".contains(_)),
        s"chunk $i over budget with more than one sentence")
    }
    // empty and punctuation-free docs
    assert(CorpusPrep.chunkSentences(docs(2L -> " "), "text", "doc_id", 8)
      .count() === 0L)
    val noPunct = CorpusPrep.chunkSentences(
      docs(3L -> "five plain words no marks"), "text", "doc_id", 3)
      .select("chunk_text").as[String].collect()
    assert(noPunct.toSeq === Seq("five plain words no marks"),
      "an unterminated doc is one sentence and never splits")
  }

  test("assignShards: contiguous budget shards, straddler rule, partition-proof") {
    // words of 4 letters cost exactly 1 estimate token each
    val d = (1L to 6L).map(i => (i, Seq.fill(4)("abcd").mkString(" ")))
      .toDF("doc_id", "text") // 6 docs x 4 tokens
    val out = CorpusPrep.assignShards(d.repartition(5), "doc_id", "text",
        shardTokens = 10L, nBuckets = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "token_offset", "shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).forall(_ == 4L))
    assert(out.map(_._3).toSeq == Seq(0L, 4L, 8L, 12L, 16L, 20L))
    // doc 3 STRADDLES the 10-token boundary (offset 8) and stays in
    // shard 0 — at most one straddler per shard, shards contiguous
    assert(out.map(_._4).toSeq == Seq(0L, 0L, 0L, 1L, 1L, 2L))
    intercept[IllegalArgumentException](
      CorpusPrep.assignShards(d, "doc_id", "text", shardTokens = 0L))
  }

  test("upsampleEpochs: floor epochs exact, fractional epoch hashed, guard") {
    val d = (1L to 100L).map(i => (i, if (i <= 60) "a" else "b"))
      .toDF("doc_id", "source")
    val out = CorpusPrep.upsampleEpochs(d, "source", "doc_id",
        Seq("a" -> 2.5, "b" -> 0.25))
      .groupBy("source", "epoch").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // two FULL epochs of a, exactly
    assert(out(("a", 0L)) == 60L && out(("a", 1L)) == 60L)
    // the fractional epochs are hash-thinned strict subsets
    val a2 = out.getOrElse(("a", 2L), 0L)
    val b0 = out.getOrElse(("b", 0L), 0L)
    assert(a2 > 0L && a2 < 60L, s"~half of a's third epoch (got $a2)")
    assert(b0 > 0L && b0 < 40L, s"~quarter of b (got $b0)")
    // deterministic: identical on re-run
    val again = CorpusPrep.upsampleEpochs(d.repartition(7), "source",
        "doc_id", Seq("a" -> 2.5, "b" -> 0.25))
      .groupBy("source", "epoch").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == out)
    intercept[IllegalArgumentException](CorpusPrep.upsampleEpochs(
      d, "source", "doc_id", Seq("a" -> 99.0)))
  }

  test("tokenBudgetMixture: per-source budgets, straddler kept, auditable") {
    // 4 docs x 4 estimate tokens per source; budget 10 keeps exactly 3
    // per source (exclusive offsets 0/4/8 < 10; the 8-offset doc
    // STRADDLES and is kept; offset 12 is out)
    val d = (1L to 8L).map(i =>
        (i, if (i <= 4) "a" else "b", Seq.fill(4)("abcd").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = CorpusPrep.tokenBudgetMixture(d.repartition(3), "source",
        "text", "doc_id", tokenBudget = 10L)
      .collect()
    assert(out.length == 8, "every row returns with its kept flag")
    val bySrc = out.groupBy(_.getAs[String]("source"))
    for ((s, rows) <- bySrc) {
      assert(rows.count(_.getAs[Int]("kept") == 1) == 3, s"source $s")
      assert(rows.filter(_.getAs[Int]("kept") == 1)
        .map(_.getAs[Long]("n_tokens")).sum == 12L)
      // offsets are a permutation of the exclusive prefix sums
      assert(rows.map(_.getAs[Long]("token_offset")).sorted.toSeq ==
        Seq(0L, 4L, 8L, 12L))
    }
    intercept[IllegalArgumentException](CorpusPrep.tokenBudgetMixture(
      d, "source", "text", "doc_id", tokenBudget = 0L))
  }

  test("weightedSample: A-ES membership replays exactly; gate invariants") {
    val d = (1L to 30L).map(i =>
        (i, if (i % 2 == 0) "A" else "B", (i % 7 - 1).toDouble))
      .toDF("doc_id", "grp", "w")
      .unionByName(Seq((99L, "A", null.asInstanceOf[java.lang.Double]))
        .toDF("doc_id", "grp", "w"))
    val got = CorpusPrep.weightedSample(d, "grp", "w", "doc_id",
        k = 3, seed = 11L)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getInt(4))).toMap
    // driver-side replica of the whole draw (hash → ln ratio → floor
    // micros → (key desc, id) top-3): the operator must agree verbatim
    def hash(s: String): Long = {
      var h = 0L
      s.foreach(c => h = (h * 131 + c.toLong) % 1000000007L)
      (h * 2654435761L + 104729L) % 1000000007L
    }
    val rows = (1L to 30L).map(i =>
      (i, if (i % 2 == 0) "A" else "B", (i % 7 - 1).toDouble))
    val keys = rows.collect { case (id, g, w) if w > 0 =>
      (id, g, math.floor(math.log(
        (hash(s"11:wsample:$id") + 1) / 1000000008.0) / w * 1e6).toLong)
    }
    val expectKept = keys.groupBy(_._2).flatMap { case (_, ks) =>
      ks.sortBy(k => (-k._3, k._1)).take(3).map(_._1)
    }.toSet
    keys.foreach { case (id, _, k) =>
      assert(got(id)._2 === Some(k), s"key mismatch for id $id")
      assert(got(id)._3 === (if (expectKept(id)) 1 else 0),
        s"membership mismatch for id $id")
    }
    // every row returns; non-positive and NULL weights never sampled
    assert(got.size === 31)
    rows.collect { case (id, _, w) if w <= 0 => id }.foreach { id =>
      assert(got(id)._2.isEmpty && got(id)._3 === 0)
    }
    assert(got(99L)._2.isEmpty && got(99L)._3 === 0)
    // exactly min(k, positive population) kept per group
    val keptPerGroup = got.toSeq.filter(_._2._3 == 1).groupBy(_._2._1)
    assert(keptPerGroup.values.forall(_.size == 3))
    // ∝-weight sanity on the driver replica: a weight-30 row beats ten
    // weight-1 rivals about 30/40 of the time across 200 fixed seeds
    val wins = (0 until 200).count { seed =>
      val heavy = math.log(
        (hash(s"$seed:wsample:99") + 1) / 1000000008.0) / 30.0
      val best = (1 to 10).map(id => math.log(
        (hash(s"$seed:wsample:$id") + 1) / 1000000008.0) / 1.0).max
      heavy > best
    }
    assert(wins > 110 && wins < 180, s"heavy row won $wins/200 (expect ~150)")
    intercept[IllegalArgumentException](
      CorpusPrep.weightedSample(d, "grp", "w", "doc_id", k = 0, seed = 1L))
  }

  test("writeShards: shard dirs on disk, readback equals manifest") {
    // the CacheManager is shared JVM-wide across suites — start from a
    // clean slate so the hygiene assertion sees only what THIS call adds
    spark.catalog.clearCache()
    val d = (1L to 6L).map(i => (i, Seq.fill(4)("abcd").mkString(" ")))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val manifest = CorpusPrep.writeShards(d, "doc_id", "text",
        shardTokens = 10L, outRoot = out, nBuckets = 2)
      .orderBy("shard_id").collect()
    // the persisted assignment frame must be RELEASED deterministically
    // (the manifest is eagerly materialized, so nothing still needs it)
    assert(spark.sharedState.cacheManager.isEmpty,
      "writeShards left a persisted frame in the CacheManager")
    assert(manifest.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(manifest.map(_.getLong(1)).toSeq == Seq(3L, 2L, 1L)) // docs/shard
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard_id=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("shard_id=0", "shard_id=1", "shard_id=2"))
    val back = spark.read.parquet(out)
    assert(back.count() == 6)
    // partition-column readback infers INT — normalize through Number
    val perShard = back.groupBy("shard_id").count()
      .collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1))
      .toMap
    assert(perShard == Map(0L -> 3L, 1L -> 2L, 2L -> 1L))
  }

  test("cdcChunks: coverage exact, shift-robust boundaries, edges") {
    import graft.functions.TextFunctions
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cunning red vixen naps beside a warm stone wall in autumn sun"
    val d = docs(1L -> base, 2L -> ("PREFIX SPLICE " + base),
      3L -> "tiny", 4L -> "", 5L -> null.asInstanceOf[String])
    val out = d.select(col("doc_id"),
        TextFunctions.cdcChunks(col("text")).as("ch"))
      .orderBy("doc_id").collect()
    // chunk concatenation IS the normalized text
    val norm1 = base.toLowerCase.trim.replaceAll("\\s+", " ")
    assert(out(0).getSeq[String](1).mkString("") === norm1)
    // shift-robustness: after the spliced prefix, the twin re-aligns —
    // its chunk multiset shares all but the first chunk(s) of the base
    val c1 = out(0).getSeq[String](1)
    val c2 = out(1).getSeq[String](1)
    val shared = c2.toSet.intersect(c1.toSet)
    assert(shared.size >= c1.size - 1,
      s"CDC must re-align after a prefix edit (shared $shared of $c1)")
    // short text: one chunk; empty and null: zero chunks
    assert(out(2).getSeq[String](1) === Seq("tiny"))
    assert(out(3).getSeq[String](1).isEmpty)
    assert(out(4).getSeq[String](1).isEmpty)
  }

  test("cdcChunkNovelty: twins score near zero, firsts keep the credit") {
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "cunning red vixen naps beside a warm stone wall in autumn sun"
    val d = docs(1L -> base, 2L -> ("PREFIX SPLICE " + base), 3L -> "")
    // maskBits = 4 → ~16-char chunks, enough cuts on a short fixture for
    // the re-alignment to dominate
    val out = CorpusPrep.cdcChunkNovelty(d, "doc_id", "text", maskBits = 4)
      .orderBy("doc_id").collect()
    val (n1, nov1) = (out(0).getLong(1), out(0).getLong(2))
    val (n2, nov2) = (out(1).getLong(1), out(1).getLong(2))
    assert(nov1 === n1, "the first holder owns every one of its chunks")
    assert(n2 >= 4 && nov2 <= 2,
      s"the shifted twin must re-align (novel $nov2/$n2, base $nov1/$n1)")
    assert(out(2).getLong(1) === 0L && out(2).getLong(3) === 0L,
      "an empty doc scores 0 over 0")
  }

  test("cdcChunkNovelty: a boilerplate chunk shared by every doc stays exact " +
      "(hot-key path)") {
    // every doc carries the SAME license-header-style text plus a unique
    // tail: the shared chunks hash to ONE key each, the shape that makes
    // a chunk-keyed exchange degenerate (guide §2.5). The pair-keyed
    // exchange spreads the copies; accounting must stay exact: the first
    // holder (lowest id) gets the shared chunks' credit, every later doc
    // is novel only in its tail.
    val header = "standard license header apache version two point zero " +
      "permission granted free of charge to any person obtaining a copy"
    val d = docs((1L to 40L).map(i =>
      i -> (header + s" unique tail token$i mark$i")): _*)
    val out = CorpusPrep.cdcChunkNovelty(d, "doc_id", "text", maskBits = 3)
      .orderBy("doc_id").collect()
    val first = out.head
    assert(first.getLong(2) === first.getLong(1),
      "doc 1 is first holder of every chunk it has")
    // later docs: novelty strictly below their chunk count (the header
    // chunks are credited to doc 1), but nonzero (the unique tail)
    out.tail.foreach { r =>
      assert(r.getLong(2) < r.getLong(1),
        s"doc ${r.getLong(0)} must share header chunks")
      assert(r.getLong(2) >= 1,
        s"doc ${r.getLong(0)} has a unique tail chunk")
    }
    // exactness on the hot key: total novel chunks == distinct chunks
    val totalNovel = out.map(_.getLong(2)).sum
    val distinctChunks = d.select(explode(graft.functions.TextFunctions
        .cdcChunks(col("text"), 8, 3)).as("c")).distinct().count()
    assert(totalNovel === distinctChunks,
      "every distinct chunk is credited exactly once")
  }

  test("stupidBackoffScore: hand-computed backoff levels and nll") {
    // train: two 3-token docs. counts: uni a:2 b:2 c:1 d:1 (N=6, V=4);
    // bi "a b":2 "b c":1 "b d":1; tri "a b c":1 "a b d":1
    val train = docs(10L -> "a b c", 11L -> "a b d")
    val d = docs(1L -> "a b c", 2L -> "x b d", 3L -> "")
    val out = CorpusPrep.stupidBackoffScore(d, train, "text", "doc_id")
      .orderBy("doc_id").collect()
    // doc 1: a→uni 2/6, b→bi 2/2, c→tri 1/2 (no backoff steps anywhere)
    val r1 = out(0)
    assert((r1.getLong(2), r1.getLong(3), r1.getLong(4), r1.getLong(5))
      === ((1L, 1L, 1L, 0L)))
    val nll1 = -(math.log(2.0 / 6) + math.log(2.0 / 2) + math.log(1.0 / 2)) / 3
    assert(math.abs(r1.getDouble(6) - nll1) < 1e-6)
    assert(math.abs(r1.getDouble(7) - math.exp(nll1)) < 1e-5)
    // doc 2: x→oov 1/(6+4); b after unseen x → one backoff step to
    // unigram 0.4*(2/6); d→"b d" bigram after one step 0.4*(1/2)
    val r2 = out(1)
    assert((r2.getLong(2), r2.getLong(3), r2.getLong(4), r2.getLong(5))
      === ((0L, 1L, 1L, 1L)))
    val nll2 = -(math.log(1.0 / 10) + math.log(0.4 * (2.0 / 6)) +
      math.log(0.4 * (1.0 / 2))) / 3
    assert(math.abs(r2.getDouble(6) - nll2) < 1e-6)
    // doc 3: empty — zero counts, null nll/ppl
    val r3 = out(2)
    assert(r3.getLong(1) === 0L && r3.getLong(2) === 0L &&
      r3.isNullAt(6) && r3.isNullAt(7))
    // a train doc scored against its own LM sits far below a foreign
    // doc — the gate property
    assert(r1.getDouble(7) < r2.getDouble(7))
    intercept[IllegalArgumentException](
      CorpusPrep.stupidBackoffScore(d, train, "text", "doc_id", alpha = 1.5))
  }

  test("tokenEntropy: hand-computed entropy, ttr anchor, edge docs") {
    val d = docs(1L -> "a a b", 2L -> "x y z", 3L -> "w", 4L -> "",
      5L -> "t t t t")
    val out = CorpusPrep.tokenEntropy(d, "text", "doc_id")
      .orderBy("doc_id").collect()
    // "a a b": H = ln 3 − (2 ln 2)/3; ttr = 2/3 in floor micros
    val h1 = math.log(3.0) - 2.0 * math.log(2.0) / 3.0
    assert(math.abs(out(0).getDouble(3) - h1) < 1e-6)
    assert(out(0).getLong(4) === 666666L)
    // uniform distinct: H = ln 3 (the maximum for 3 tokens); ttr = 1
    assert(math.abs(out(1).getDouble(3) - math.log(3.0)) < 1e-6)
    assert(out(1).getLong(4) === 1000000L)
    // single token: zero entropy
    assert(out(2).getDouble(3) === 0.0)
    // empty doc: zero counts, null entropy
    assert(out(3).getLong(1) === 0L && out(3).isNullAt(3) &&
      out(3).getLong(4) === 0L)
    // pure repetition: zero entropy despite length — the noise signal
    assert(out(4).getDouble(3) === 0.0 && out(4).getLong(4) === 250000L)
  }
}
