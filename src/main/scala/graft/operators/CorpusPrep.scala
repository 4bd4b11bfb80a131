package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Training-corpus preparation operators beyond dedup/similarity: eval-set
  * decontamination, repetition signals, context-window chunking, and
  * concat-then-slice sequence packing over a distributed prefix sum.
  *
  * Everything is declarative DataFrame code — partial aggregation, broadcast
  * joins, and codegen'd HOFs — shaped so each stage still works when the
  * corpus is 100 TB: no global single-task windows, no driver-side loops,
  * no collect larger than O(#partitions).
  */
object CorpusPrep {

  // ---- decontamination ------------------------------------------------

  /** Per-document count of DISTINCT word-k-shingles that also occur in the
    * evaluation set (the standard pretraining decontamination test: a doc
    * sharing >= `minOverlap` n-grams with a benchmark is contaminated).
    *
    * Scale shape: the eval side is benchmark-sized (millions of shingles at
    * most) — distinct'd and broadcast, so the corpus-side explode never
    * shuffles; only the (rare) matching shingles reach the per-doc count.
    * Output is one row per document with at least one overlap.
    */
  def overlapCounts(corpus: DataFrame, evalDocs: DataFrame,
                    textCol: String, idCol: String, k: Int): DataFrame = {
    val evalShingles = evalDocs
      .select(explode(TextFunctions.shingles(col(textCol), k)).as("shingle"))
      .distinct()
    corpus
      .select(col(idCol),
        explode(array_distinct(TextFunctions.shingles(col(textCol), k)))
          .as("shingle"))
      .join(broadcast(evalShingles), "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Drop every corpus document whose eval-set shingle overlap reaches
    * `minOverlap`. The contaminated-id set is small by construction, so the
    * anti join broadcasts — the corpus is filtered in place, no shuffle. */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, textCol: String,
                    idCol: String, k: Int, minOverlap: Long): DataFrame = {
    val dirty = overlapCounts(corpus, evalDocs, textCol, idCol, k)
      .where(col("n_overlap") >= minOverlap)
      .select(col(idCol))
    corpus.join(broadcast(dirty), Seq(idCol), "left_anti")
  }

  // ---- language-model quality scoring -----------------------------------

  /** Bigram language-model perplexity, the CCNet-style corpus quality
    * signal: train add-k-smoothed bigram statistics over the corpus itself,
    * then score every document by its average per-bigram negative
    * log-likelihood (and its exp, the perplexity). Repetitive or formulaic
    * text scores low, out-of-distribution noise scores high.
    *
    * P(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V), with c(w1 ·) the count of
    * w1 as a bigram prefix and V the corpus vocabulary size.
    *
    * Output: (idCol, n_tokens, nll, ppl, n_bigrams); nll/ppl are null for
    * documents with fewer than two tokens, doubles rounded to 6 places.
    *
    * Scale shape: the bigram-count table is one aggregation keyed by
    * bigram (partial map-side combine); prefix counts come from a window
    * over that COUNT table (cardinality = distinct bigrams, each w1
    * partition bounded by vocabulary, never by corpus size); V rides along
    * as a broadcast 1-row cross join. The only corpus-sized shuffles are
    * the doc-bigram/count join (an equi-join Spark can SMJ/AQE-skew-split)
    * and the final per-doc aggregation. No driver-side collects.
    */
  def lmPerplexity(docs: DataFrame, textCol: String, idCol: String,
                   k: Double = 0.5): DataFrame = {
    require(k > 0, s"smoothing k must be positive, got $k")
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val base = docs.select(col(idCol), toks.as("__toks"))
    val n = size(col("__toks"))
    val bi = base.where(n >= 2).select(col(idCol),
      explode(zip_with(
        slice(col("__toks"), lit(1), n - 1),
        slice(col("__toks"), lit(2), n - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))

    val counts = bi.groupBy(col("bigram")).agg(count(lit(1)).as("__c12"))
      .withColumn("__c1", sum(col("__c12"))
        .over(Window.partitionBy(substring_index(col("bigram"), " ", 1))))
    val vocab = base.select(explode(col("__toks")).as("__w"))
      .agg(countDistinct(col("__w")).as("__V"))

    val scored = bi.join(counts, "bigram")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(
        avg(-log((col("__c12") + lit(k)) / (col("__c1") + lit(k) * col("__V"))))
          .as("__nll"),
        count(lit(1)).as("__nbi"))

    base.select(col(idCol), n.cast("long").as("n_tokens"))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round(col("__nll"), 6).as("nll"),
        round(exp(col("__nll")), 6).as("ppl"),
        coalesce(col("__nbi"), lit(0L)).as("n_bigrams"))
  }

  /** CCNet-style perplexity gate LM: STUPID BACKOFF (Brants et al.,
    * "Large Language Models in Machine Translation", EMNLP'07) over
    * word trigrams, trained on a designated CLEAN corpus and scoring
    * every document — the canonical "perplexity under a clean-corpus
    * LM" quality stage (Wenzek et al., CCNet, LREC'20). Unlike
    * [[lmPerplexity]] (a smoothed bigram self-model), this is a
    * reference-corpus model with the standard backoff chain:
    *
    *   S(w | u,v) = c3(uvw)/c2(uv)        if c3 > 0
    *              = α·S(w | v)            otherwise
    *   S(w | v)   = c2(vw)/c1(v)          if c2 > 0
    *              = α·S(w)                otherwise
    *   S(w)       = c1(w)/N               if c1 > 0
    *              = 1/(N+V)               otherwise (OOV floor)
    *
    * Doc-initial positions start at the deepest level their context
    * allows (no α penalty for a missing, as opposed to unmatched,
    * context). Scores are not normalized probabilities — the standard
    * stupid-backoff trade; at web scale it matches smoothed Kneser-Ney
    * gates while needing only COUNT TABLES, which is what makes it
    * trainable relationally (one explode + groupBy per order, the q191
    * trainer discipline) and replayable by an external oracle: every
    * ratio is a quotient of exact integer counts, the backoff LEVEL of
    * every token is emitted as exact per-doc counts (n_tri/n_bi/n_uni/
    * n_oov — the hash-stable half), and nll/ppl follow the q88
    * ln-agreement discipline (ln of identical IEEE doubles, rounded).
    *
    * Scale shape: counts are vocabulary-sized aggregates of the TRAIN
    * corpus (broadcastable in the common case); scoring is one
    * posexplode + one per-doc window (two lags) + five count-table
    * joins + one per-doc agg — no self-joins of the corpus, row volume
    * ∝ tokens. Tokenization is the house trim/lower/`\s+` convention.
    *
    * Output: idCol, n_tokens, n_tri, n_bi, n_uni, n_oov, nll, ppl
    * (nll/ppl null for empty docs). */
  def stupidBackoffScore(docs: DataFrame, train: DataFrame,
                         textCol: String, idCol: String,
                         alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val docToks = docs.select(col(idCol),
      TextFunctions.tokens(lower(col(textCol))).as("__toks"))
    // three gram orders each re-tokenize the train corpus from scratch —
    // materialize the tokenized train base once (guide §7.2); uni/bi are
    // each referenced twice more below (totals + backoff joins), so the
    // count tables are checkpointed too (vocabulary-sized)
    val trainToks = Materialize.ck(train
      .select(TextFunctions.tokens(lower(col(textCol))).as("__toks")))
    val n = size(col("__toks"))
    def grams(k: Int) = trainToks.where(n >= k).select(
      explode(
        if (k == 1) col("__toks")
        else (2 to k).foldLeft(slice(col("__toks"), lit(1), n - (k - 1))) {
          (acc, j) => zip_with(acc,
            slice(col("__toks"), lit(j), n - (k - 1)),
            (a, b) => concat_ws(" ", a, b))
        }).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as(s"__c$k"))
    val uni = Materialize.ck(grams(1))
    val bi = Materialize.ck(grams(2))
    val tri = grams(3)
    val totals = uni.agg(sum(col("__c1")).as("__N"),
      count(lit(1)).as("__V"))

    val w = Window.partitionBy(col(idCol)).orderBy(col("__i"))
    val t = docToks
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__i", "__w")))
      .withColumn("__p1", lag(col("__w"), 1).over(w))
      .withColumn("__p2", lag(col("__w"), 2).over(w))
    val scoredTok = t
      .join(tri.select(col("g").as("__g3"), col("__c3")),
        concat_ws(" ", col("__p2"), col("__p1"), col("__w")) === col("__g3"),
        "left")
      .join(bi.select(col("g").as("__gc2"), col("__c2").as("__c2ctx")),
        concat_ws(" ", col("__p2"), col("__p1")) === col("__gc2"), "left")
      .join(bi.select(col("g").as("__g2"), col("__c2")),
        concat_ws(" ", col("__p1"), col("__w")) === col("__g2"), "left")
      .join(uni.select(col("g").as("__gc1"), col("__c1").as("__c1ctx")),
        col("__p1") === col("__gc1"), "left")
      .join(uni.select(col("g").as("__g1"), col("__c1")),
        col("__w") === col("__g1"), "left")
      .crossJoin(broadcast(totals))
    // level: deepest order whose n-gram the train corpus has seen,
    // bounded by how much context the position carries
    val level =
      when(col("__p2").isNotNull && col("__c3").isNotNull, lit("tri"))
        .when(col("__p1").isNotNull && col("__c2").isNotNull, lit("bi"))
        .when(col("__c1").isNotNull, lit("uni"))
        .otherwise(lit("oov"))
    // α once per UNMATCHED backoff step (a missing context level is
    // not a penalty); fixed multiplication chains keep the IEEE op
    // order identical in both engines
    val steps =
      when(col("__p2").isNotNull,
        when(level === "tri", 0).when(level === "bi", 1).otherwise(2))
        .when(col("__p1").isNotNull,
          when(level === "bi", 0).otherwise(1))
        .otherwise(0)
    val base =
      when(level === "tri",
        col("__c3").cast("double") / col("__c2ctx").cast("double"))
        .when(level === "bi",
          col("__c2").cast("double") / col("__c1ctx").cast("double"))
        .when(level === "uni",
          col("__c1").cast("double") / col("__N").cast("double"))
        .otherwise(lit(1.0) / (col("__N") + col("__V")).cast("double"))
    val score =
      when(steps === 0, base)
        .when(steps === 1, lit(alpha) * base)
        .otherwise(lit(alpha) * (lit(alpha) * base))
    val perDoc = scoredTok
      .withColumn("__lvl", level)
      .withColumn("__nll", -log(score))
      .groupBy(col(idCol))
      .agg(
        sum(when(col("__lvl") === "tri", 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("__lvl") === "bi", 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("__lvl") === "uni", 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("__lvl") === "oov", 1L).otherwise(0L)).as("n_oov"),
        avg(col("__nll")).as("__anll"))
    docToks.select(col(idCol), n.cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("n_uni"), lit(0L)).as("n_uni"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(col("__anll"), 6).as("nll"),
        round(exp(col("__anll")), 6).as("ppl"))
  }

  /** Per-document TOKEN ENTROPY + type-token ratio — the lexical-
    * diversity / noise signals quality stacks rank on (a keyboard-mash
    * or template doc has low entropy for its length; a natural-prose
    * doc sits near the corpus norm): Shannon entropy of the lowercase
    * word distribution, H = ln(n) − (Σ c·ln c)/n in nats — every ln
    * argument an exact integer count, so both engines ln identical
    * doubles (the q88 discipline) — plus `ttr_micros` =
    * distinct·1e6 div tokens as the exact-integer anchor. One explode
    * + two partial-agg shuffles keyed fine ((doc, word) then doc);
    * nothing corpus-sized ever joins itself. Empty docs: zero counts,
    * null entropy. */
  def tokenEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = docs.select(col(idCol),
      TextFunctions.tokens(lower(col(textCol))).as("__toks"))
    val per = base.select(col(idCol), explode(col("__toks")).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__n"),
        count(lit(1)).as("__d"),
        sum(col("__c").cast("double") * log(col("__c").cast("double")))
          .as("__clnc"))
    base.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(per, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__d"), lit(0L)).as("n_distinct"),
        round(log(col("__n").cast("double")) -
          col("__clnc") / col("__n").cast("double"), 6).as("entropy"),
        when(col("n_tokens") > 0,
          expr("(coalesce(__d, 0L) * 1000000L) DIV n_tokens"))
          .otherwise(lit(0L)).as("ttr_micros"))
  }

  // ---- deterministic stratified sampling ---------------------------------

  /** Exact-quota stratified sample: the `quota` lowest-md5 rows of every
    * stratum — the deterministic version of "sample N documents per
    * source/domain" used to build training mixtures. Stable under
    * repartitioning and across engines (the rank key is md5 of the id
    * rendered as a string, tie-broken by the id itself).
    *
    * Scale shape: delegates to [[Skew.saltedTopKPerKey]], so a hot stratum
    * (one domain = half the corpus) never funnels into a single task —
    * stage 1 bounds each (stratum, salt) partition at `quota` rows before
    * anything keyed only by stratum shuffles. Output: input columns +
    * `rank` (1..quota within the stratum). */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       quota: Int, buckets: Int = 32): DataFrame =
    Skew.saltedTopKPerKey(df, Seq(col(strataCol)),
      Seq(md5(col(idCol).cast("string")).asc, col(idCol).asc),
      quota, buckets)

  // ---- repetition signals ----------------------------------------------

  /** Gopher-style intra-document repetition signals: token count, duplicate
    * word fraction, and the fraction of all word-trigrams taken by the most
    * frequent one. Word stats are map-side HOFs; the trigram mode needs two
    * aggregations, both keyed fine enough ((id, gram) then id) that partial
    * aggregation keeps the shuffles proportional to distinct grams. */
  def repetitionStats(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val base = docs.select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        size(col("__toks")).as("n_tokens"),
        when(size(col("__toks")) === 0, lit(0.0))
          .otherwise(round(lit(1.0) -
            size(array_distinct(col("__toks"))).cast("double") / size(col("__toks")), 6))
          .as("dup_word_ratio"),
        when(size(col("__toks")) >= 3,
          transform(sequence(lit(1), size(col("__toks")) - lit(2)),
            i => concat_ws(" ", slice(col("__toks"), i, lit(3)))))
          .otherwise(array(concat_ws(" ", col("__toks")))).as("__grams"))
    val gramMode = base
      .select(col(idCol), explode(col("__grams")).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(max(col("__n")).as("__top"), sum(col("__n")).as("__tot"))
      .select(col(idCol),
        round(col("__top").cast("double") / col("__tot"), 6).as("top_trigram_frac"))
    base.drop("__grams").join(gramMode, Seq(idCol))
  }

  // ---- context-window chunking ------------------------------------------

  /** Split each document into word windows of `window` tokens advancing by
    * `stride` (the final window may be shorter; a doc of <= `window` tokens
    * yields exactly one chunk). Emits (id, chunk_idx, n_chunk_tokens,
    * chunk_text). All per-row HOF work — embarrassingly parallel, the row
    * explosion is bounded by ~n/stride chunks per doc. */
  def chunkWords(docs: DataFrame, textCol: String, idCol: String,
                 window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    // tokenize ONCE into a bound column: an unbound `tokens(...)` inside
    // the per-chunk lambda would re-tokenize the document for every chunk
    // (HOF lambdas are interpreted — no common-subexpression reuse)
    val n = size(col("__toks"))
    val nChunks = when(n <= window, lit(1L))
      .otherwise(ceil((n - lit(window)).cast("double") / stride) + lit(1))
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L), nChunks - lit(1)),
        i => concat_ws(" ", slice(col("__toks"), (i * stride + lit(1)).cast("int"),
          lit(window))))))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        TextFunctions.tokenCount(col("col")).as("n_chunk_tokens"),
        col("col").as("chunk_text"))
  }

  /** TOKEN-budgeted chunking — [[chunkWords]] with the budget in
    * estimated BPE tokens ([[TextFunctions.wordTokenCost]]) instead of
    * words, the unit context windows are actually budgeted in. GREEDY
    * word-boundary packing: words accumulate into the current chunk
    * until the next word would exceed `maxTokens`, then a new chunk
    * starts — so every chunk costs <= maxTokens EXCEPT a single word
    * whose own cost exceeds the budget, which gets a chunk to itself
    * (never split mid-word; a real tokenizer's pieces don't respect
    * char offsets, so splitting words here would desync from it).
    * Chunks cover the normalized text exactly: concatenating a doc's
    * chunk_texts in chunk_idx order reconstructs its space-joined
    * tokens (the spec's reconstruction lane).
    *
    * Shape: one fold per doc builds the break positions (O(words), the
    * bound-lambda discipline), then one posexplode — all map-side, no
    * shuffle, row growth = chunks per doc. `tokenizer` IS the
    * real-tokenizer swap: "estimate" budgets by the documented
    * deterministic rule, "bpe" by the exact committed-merges encoder
    * ([[TextFunctions.wordCost]]; register
    * [[graft.plans.BpeExpressions]] first) — only the cost lambda
    * changes, the greedy fold and the output contract are identical. */
  def chunkTokens(docs: DataFrame, textCol: String, idCol: String,
                  maxTokens: Int, tokenizer: String = "estimate"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    // EVERYTHING shared (tokens, costs, starts) is bound as a LAMBDA
    // VARIABLE via the single-element-transform trick, never a projected
    // column: CollapseProject inlines projected expressions into every
    // use site, and the per-chunk lambda below references the cost and
    // token arrays once PER CHUNK — inlined, that re-tokenized and
    // re-costed the whole document per chunk, O(chunks x words x regex)
    // (measured 11 s for 5k docs at sf0.1; bound form: 1.6 s warm in the
    // same local[4] harness, 0.63 s in the local[32] battery). Lambda
    // variables are opaque to the optimizer and O(1) reads at eval.
    val chunks = element_at(transform(
      array(TextFunctions.tokens(col(textCol))), toks =>
        element_at(transform(
          array(transform(toks, w => TextFunctions.wordCost(w, tokenizer))), cs => {
            // fold (cost, position) pairs into greedy chunk-start
            // positions: a chunk starts at word i when the running cost
            // since the last break would exceed the budget (and the
            // current chunk is non-empty)
            val breaks = aggregate(
              zip_with(cs, sequence(lit(1), size(cs)),
                (c, i) => struct(c.as("c"), i.as("i"))),
              struct(lit(0L).as("cum"), array(lit(1)).as("starts")),
              (acc, p) =>
                when(acc.getField("cum") + p.getField("c") > maxTokens &&
                    acc.getField("cum") > 0L,
                  struct(p.getField("c").as("cum"),
                    concat(acc.getField("starts"),
                      array(p.getField("i"))).as("starts")))
                  .otherwise(struct(
                    (acc.getField("cum") + p.getField("c")).as("cum"),
                    acc.getField("starts").as("starts"))),
              acc => acc.getField("starts"))
            // chunk k spans [starts(k), starts(k+1)) — the ends array is
            // the starts shifted left with n+1 appended. Empty docs emit
            // zero chunks (zip_with would otherwise null-pad one bogus
            // row).
            when(size(toks) === 0,
              array().cast("array<struct<n:bigint,t:string>>"))
              .otherwise(element_at(transform(array(breaks), starts =>
                zip_with(starts,
                  concat(slice(starts, lit(2),
                    greatest(size(starts) - 1, lit(0))),
                    array(size(toks) + 1)),
                  (s, e) => struct(
                    aggregate(slice(cs, s, e - s), lit(0L),
                      (a, c) => a + c).as("n"),
                    concat_ws(" ", slice(toks, s, e - s)).as("t")))), 1))
          }), 1)), 1)
    docs
      .select(col(idCol), chunks.as("__chunks"))
      .select(col(idCol), posexplode(col("__chunks")))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col.n").as("n_chunk_tokens"), col("col.t").as("chunk_text"))
  }

  /** SENTENCE-boundary-respecting chunking — the RAG/embedding chunker:
    * greedy-pack whole sentences ([[TextFunctions.sentencesOf]]) into
    * chunks of at most `maxWords` words, never splitting inside a
    * sentence (a sentence longer than the budget gets its own chunk —
    * the [[chunkTokens]] at-least-one-unit rule, with sentences as the
    * units and word counts as the costs). Chunk text rejoins its
    * sentences with single spaces.
    *
    * Same map-side shape and lambda-binding discipline as
    * [[chunkTokens]]: the sentence array and cost array bind ONCE as
    * lambda variables (CollapseProject would otherwise re-segment the
    * document per chunk), the fold is one pass, nothing shuffles. */
  def chunkSentences(docs: DataFrame, textCol: String, idCol: String,
                     maxWords: Int): DataFrame = {
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    val chunks = element_at(transform(
      array(TextFunctions.sentencesOf(col(textCol))), sents =>
        element_at(transform(
          array(transform(sents,
            sv => size(split(sv, "\\s+")).cast("long"))), cs => {
            val breaks = aggregate(
              zip_with(cs, sequence(lit(1), size(cs)),
                (c, i) => struct(c.as("c"), i.as("i"))),
              struct(lit(0L).as("cum"), array(lit(1)).as("starts")),
              (acc, p) =>
                when(acc.getField("cum") + p.getField("c") > maxWords &&
                    acc.getField("cum") > 0L,
                  struct(p.getField("c").as("cum"),
                    concat(acc.getField("starts"),
                      array(p.getField("i"))).as("starts")))
                  .otherwise(struct(
                    (acc.getField("cum") + p.getField("c")).as("cum"),
                    acc.getField("starts").as("starts"))),
              acc => acc.getField("starts"))
            when(size(sents) === 0,
              array().cast("array<struct<n:bigint,t:string>>"))
              .otherwise(element_at(transform(array(breaks), starts =>
                zip_with(starts,
                  concat(slice(starts, lit(2),
                    greatest(size(starts) - 1, lit(0))),
                    array(size(sents) + 1)),
                  (st, en) => struct(
                    aggregate(slice(cs, st, en - st), lit(0L),
                      (a, c) => a + c).as("n"),
                    concat_ws(" ", slice(sents, st, en - st)).as("t")))), 1))
          }), 1)), 1)
    docs
      .select(col(idCol), chunks.as("__chunks"))
      .select(col(idCol), posexplode(col("__chunks")))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col.n").as("n_chunk_words"), col("col.t").as("chunk_text"))
  }

  /** SLIDING token windows — the eval-stride pattern (GPT-2-style
    * perplexity evaluation: overlapping context windows advancing by
    * `stride` tokens, each `window` tokens wide). Window k covers the
    * words whose START token-offset falls in [k·stride, k·stride +
    * window) — word granularity, so the final member word may overrun
    * the boundary by its own cost - 1 (a real tokenizer's pieces would
    * split there; ours never splits words, the [[chunkTokens]]
    * contract). Only non-empty windows emit. `stride = window` degrades
    * to non-overlapping offset-cut chunking.
    *
    * Scale shape: per-doc token offsets are ONE window-sum partitioned
    * by the doc id (parallel — never a global window), membership is
    * arithmetic (each word lands in ~window/stride windows, the honest
    * row-growth factor), and reassembly groups on (doc, window) — the
    * dedupLines discipline. Two doc-keyed shuffles total; nothing
    * corpus-global. */
  def chunkTokensSliding(docs: DataFrame, textCol: String, idCol: String,
                         window: Int, stride: Int,
                         tokenizer: String = "estimate"): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val words = docs
      .select(col(idCol), posexplode(TextFunctions.tokens(col(textCol)))
        .as(Seq("__pos", "__w")))
      .withColumn("__c", TextFunctions.wordCost(col("__w"), tokenizer))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withOff = words
      .withColumn("__o", sum(col("__c")).over(byDoc) - col("__c"))
    // k ranges over floor((o - window)/stride) + 1 .. floor(o/stride)
    // (the windows whose [k·stride, k·stride + window) holds o); the
    // double floor is exact — offsets are far below 2^53
    val kmin = greatest(lit(0L),
      floor((col("__o") - window).cast("double") / stride).cast("long") + 1L)
    val kmax = floor(col("__o").cast("double") / stride).cast("long")
    withOff
      .select(col(idCol), col("__pos"), col("__w"), col("__c"),
        explode(sequence(kmin, kmax)).as("__k"))
      .groupBy(col(idCol), col("__k"))
      .agg(
        sum(col("__c")).as("n_window_tokens"),
        array_join(transform(array_sort(collect_list(
          struct(col("__pos"), col("__w")))), e => e("__w")), " ")
          .as("window_text"))
      .select(col(idCol), col("__k").cast("int").as("window_idx"),
        col("n_window_tokens"), col("window_text"))
  }

  /** [[packConcat]] with the budget in estimated BPE tokens: the
    * concat-then-slice stream is measured by
    * [[TextFunctions.tokenEstimate]] instead of a word count. Same
    * distributed prefix-sum machinery, same output contract (absolute
    * token offset + first/last pack per doc). */
  def packTokens(docs: DataFrame, orderCol: String, textCol: String,
                 budget: Int, nBuckets: Int = 64,
                 skewRobust: Boolean = false,
                 tokenizer: String = "estimate"): DataFrame =
    packConcat(docs.withColumn("__est_tokens",
        TextFunctions.tokenCountOf(col(textCol), tokenizer)),
      orderCol, "__est_tokens", budget, nBuckets, skewRobust)
      .withColumnRenamed("__est_tokens", "est_tokens")

  // ---- distributed prefix sum + sequence packing -------------------------

  /** Exclusive prefix sum of `valueCol` in global `orderCol` order, computed
    * without a single-task global window (`Window.orderBy` with no partition
    * key funnels the WHOLE table through one task — the classic scale
    * killer). Instead:
    *
    *   1. map-side: assign a coarse range bucket from the key's min/max
    *      (`width_bucket`; one cheap min/max agg first);
    *   2. per-bucket cumulative sums run in parallel windows (one shuffle,
    *      keyed by bucket);
    *   3. per-bucket totals (metadata-sized: `nBuckets` rows) are collected,
    *      exclusively scanned on the driver, and added back as a broadcast
    *      literal map.
    *
    * Bucketing by key type: numeric keys use uniform `width_bucket` from
    * min/max (cheap; assumes roughly uniform ids/timestamps) or, with
    * `skewRobust = true`, one `approxQuantile` pass (near-equal ROW counts
    * per bucket for any distribution). Non-numeric orderable keys (uuid
    * strings, dates-as-strings) use seeded-sample boundaries compared in
    * the key's own order. Every bucketing is key-order monotone, which is
    * all correctness needs — skew only costs balance.
    * Requires `orderCol` values to be unique (it is a total order).
    */
  def exclusivePrefixSum(df: DataFrame, orderCol: String, valueCol: String,
                         nBuckets: Int, out: String = "prefix_sum",
                         skewRobust: Boolean = false): DataFrame =
    exclusivePrefixSumTracked(df, orderCol, valueCol, nBuckets, out,
      skewRobust)._1

  /** [[exclusivePrefixSum]] plus the handle of its internal persisted
    * frame — for callers that EAGERLY materialize every consumer of the
    * result (e.g. [[writeShards]]) and can therefore release the cache
    * deterministically instead of waiting on the ContextCleaner. */
  private[graft] def exclusivePrefixSumTracked(
      df: DataFrame, orderCol: String, valueCol: String,
      nBuckets: Int, out: String = "prefix_sum",
      skewRobust: Boolean = false): (DataFrame, DataFrame) = {
    val numericKey = df.schema(orderCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val bucket =
      if (!numericKey) sampledBucket(df, orderCol, nBuckets)
      else if (skewRobust) quantileBucket(df, orderCol, nBuckets)
      else {
        val Array(lo, hi) = df.agg(min(col(orderCol)).cast("double"),
          max(col(orderCol)).cast("double")).head()
          .toSeq.map(_.asInstanceOf[Double]).toArray
        if (lo == hi) lit(1)
        else least(width_bucket(col(orderCol).cast("double"), lit(lo), lit(hi),
          lit(nBuckets)), lit(nBuckets)).cast("int")
      }
    // persist: the bucketed frame is consumed twice (totals collect +
    // windowed output) — one materialization keeps nondeterministic
    // lineage (samples, rand-derived columns) consistent between the two
    // and avoids recomputing the upstream twice; the ContextCleaner
    // reclaims the blocks once the result is garbage-collected
    val bucketed = df.withColumn("__bucket", bucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // totals stay in the value's own numeric family (long / double /
    // decimal) — offsets must not round or overflow through a foreign type
    val totalRows = bucketed.groupBy(col("__bucket"))
      .agg(sum(col(valueCol)).as("t"))
      .collect().map(r => r.getInt(0) -> r.get(1)).sortBy(_._1)
    def add(a: Any, b: Any): Any = (a, b) match {
      case (null, x) => x
      case (x, null) => x
      case (x: java.lang.Long, y: java.lang.Long) => x + y
      case (x: java.lang.Double, y: java.lang.Double) => x + y
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
      case _ => throw new IllegalArgumentException(
        s"unsupported prefix-sum value type: ${totalRows.headOption.map(_._2)}")
    }
    val zero: Any = null
    val offsets = totalRows.map(_._1)
      .zip(totalRows.map(_._2).scanLeft(zero)(add).dropRight(1))
    val sumType = bucketed.select(sum(col(valueCol)).as("t")).schema("t").dataType
    val offsetExpr = coalesce(element_at(
      map(offsets.flatMap { case (b, o) =>
        Seq(lit(b), lit(o).cast(sumType))
      }: _*), col("__bucket")), lit(0))
    val w = Window.partitionBy(col("__bucket")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (bucketed
      .withColumn(out, sum(col(valueCol)).over(w) - col(valueCol) + offsetExpr)
      .drop("__bucket"), bucketed)
  }

  /** TRAINING-SHARD assignment — the export step before writing packed
    * corpora: every doc gets `token_offset` (exclusive prefix sum of its
    * token cost in `orderCol` order) and `shard_id = token_offset DIV
    * shardTokens`, so shards are CONTIGUOUS in the order, hold ≈
    * `shardTokens` tokens, and at most one budget-straddling doc each;
    * `df.write.partitionBy("shard_id")` then lays down byte-bounded
    * training shards whose manifest (per-shard doc/token counts) is one
    * aggregate away. Cost is [[exclusivePrefixSum]]'s: one bucketed
    * window + a #buckets-row collect — never a global sort partition.
    * `tokenizer` ∈ estimate|bpe (the [[graft.functions.TextFunctions
    * .tokenCountOf]] switch); the estimate path is fully replayable by
    * an external oracle. */
  def assignShards(docs: DataFrame, orderCol: String, textCol: String,
                   shardTokens: Long, tokenizer: String = "estimate",
                   nBuckets: Int = 32): DataFrame =
    assignShardsTracked(docs, orderCol, textCol, shardTokens, tokenizer,
      nBuckets)._1

  /** [[assignShards]] plus the prefix-sum stage's persisted-frame handle
    * (the [[exclusivePrefixSumTracked]] contract). */
  private[graft] def assignShardsTracked(
      docs: DataFrame, orderCol: String, textCol: String,
      shardTokens: Long, tokenizer: String = "estimate",
      nBuckets: Int = 32): (DataFrame, DataFrame) = {
    require(shardTokens >= 1, s"shardTokens must be >= 1 (got $shardTokens)")
    val withCost = docs.withColumn("__tok",
      TextFunctions.tokenCountOf(col(textCol), tokenizer))
    val (ps, handle) = exclusivePrefixSumTracked(withCost, orderCol, "__tok",
      nBuckets, out = "token_offset")
    (ps.withColumn("shard_id", expr(s"token_offset DIV ${shardTokens}L"))
      .withColumnRenamed("__tok", "n_tokens"), handle)
  }

  /** EPOCH UPSAMPLING with fractional repeats — "2.5 epochs of source
    * A, 0.25 of source B", the way real training mixes over- and
    * under-sample sources (Gopher/LLaMA-style weights): every doc of a
    * source with weight w appears ⌊w⌋ times plus one more with
    * probability w−⌊w⌋, decided by a deterministic multiplicative hash
    * of (id, epoch) against a fixed-point threshold — replayable by an
    * external oracle, stable across runs/partitionings. Rows carry
    * `epoch` (0-based) so downstream shuffles can interleave epochs.
    * `maxRepeat` guards against a fat-finger weight amplifying a
    * source a thousandfold. Sources ABSENT from `weights` are dropped
    * (an explicit 0-weight — the inner broadcast join is the filter).
    * One broadcast join + one bounded explode — map-side, zero
    * shuffles. */
  def upsampleEpochs(docs: DataFrame, sourceCol: String, idCol: String,
                     weights: Seq[(String, Double)],
                     maxRepeat: Int = 8, seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty, "need at least one (source, weight)")
    weights.foreach { case (s, w) =>
      require(w > 0.0 && w <= maxRepeat,
        s"weight for '$s' must be in (0, $maxRepeat] (got $w)") }
    val sess = docs.sparkSession
    import sess.implicits._
    val wrows = weights.map { case (s, w) =>
      val whole = math.floor(w).toLong
      val frac = w - whole
      // fixed-point fractional threshold against a 31-bit hash
      (s, math.ceil(w).toLong, whole, math.floor(frac * (1L << 31)).toLong)
    }
    val wdf = wrows.toDF("__wsrc", "__ceil", "__whole", "__thresh")
    val h = pmod((col(idCol) + lit(seed) + col("epoch") * 1000003L) *
      lit(2654435761L), lit(1L << 31))
    docs
      .join(broadcast(wdf), col(sourceCol).cast("string") === col("__wsrc"))
      .withColumn("epoch",
        explode(sequence(lit(0L), col("__ceil") - 1L)))
      .where(col("epoch") < col("__whole") ||
        (col("epoch") === col("__whole") && h < col("__thresh")))
      .drop("__wsrc", "__ceil", "__whole", "__thresh")
  }

  /** TOKEN-BUDGETED per-source sampling — "take ~N tokens from each
    * source", the unit real mixture specs are written in (doc-count
    * mixtures over-weight short-doc sources): docs order within their
    * source by a deterministic multiplicative hash (engine-portable —
    * an oracle replays it), and a doc is kept while its source's
    * EXCLUSIVE token prefix sum is still under the budget, so each
    * source lands ≥ its budget with at most one straddler (or takes
    * everything it has). Every row returns with `kept` (auditable).
    *
    * Scale shape — a GROUPED distributed prefix sum: the hash order is
    * uniform, so bucketing by its high bits ([[shift]] ⇒ 256 monotone
    * buckets) splits every source's window into bounded partitions; one
    * (source, bucket) partial-sum pass collects |sources|·256 rows to
    * the driver for offsets (broadcast back), then the within-bucket
    * window runs on corpus/(|sources|·256)-sized partitions. A plain
    * per-source window would put each source's WHOLE slice in one
    * unsplittable partition — the documented self-inflicted skew shape,
    * rejected here.
    *
    * Rows with a NULL source are dropped (the inner offsets join can't
    * assign them a budget) — coalesce the source upstream if they must
    * participate. */
  def tokenBudgetMixture(docs: DataFrame, sourceCol: String,
                         textCol: String, idCol: String,
                         tokenBudget: Long, seed: Long = 42L,
                         tokenizer: String = "estimate"): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget must be >= 1 (got $tokenBudget)")
    // multiplicative hash (Knuth): exact in any 64-bit engine for ids
    // up to ~3.4e9; 31 bits kept, top 8 form the monotone bucket
    val h = pmod((col(idCol) + lit(seed)) * lit(2654435761L), lit(1L << 31))
    val bucketed = docs
      .withColumn("__h", h)
      .withColumn("__b", shiftright(col("__h"), 23).cast("int"))
      .withColumn("__tok", TextFunctions.tokenCountOf(col(textCol), tokenizer))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val offsets = bucketed
      .groupBy(col(sourceCol).cast("string").as("__srcs"),
        col("__b").as("__bb"))
      .agg(sum(col("__tok")).as("__t"))
      .collect()
      .groupBy(_.getString(0))
      .toSeq
      .flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_.getInt(1)).toSeq
        sorted.map(_.getInt(1))
          .zip(sorted.map(_.getLong(2)).scanLeft(0L)(_ + _).dropRight(1))
          .map { case (b, off) => (src, b, off) }
      }
    val sess = docs.sparkSession
    import sess.implicits._
    val offsetsDf = offsets.toDF("__srcs", "__bb", "__off")
    val w = Window.partitionBy(col(sourceCol), col("__b"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(offsetsDf),
        col(sourceCol).cast("string") === col("__srcs") &&
          col("__b") === col("__bb"))
      .withColumn("token_offset",
        sum(col("__tok")).over(w) - col("__tok") + col("__off"))
      .withColumn("kept",
        (col("token_offset") < lit(tokenBudget)).cast("int"))
      .withColumnRenamed("__tok", "n_tokens")
      .drop("__h", "__b", "__srcs", "__bb", "__off")
  }

  /** Physical shard EXPORT: [[assignShards]] then one
    * `partitionBy("shard_id")` parquet write — each shard a directory of
    * ≈`shardTokens` tokens — returning the shard MANIFEST (per-shard
    * doc/token counts and id range) computed from the same assignment
    * frame (persisted once, consumed by the write and the manifest
    * aggregate). The write is one pass; at cluster scale the assignment
    * frame arrives already bucket-clustered from the prefix sum, so the
    * partitioned write is append-friendly. */
  def writeShards(docs: DataFrame, orderCol: String, textCol: String,
                  shardTokens: Long, outRoot: String,
                  tokenizer: String = "estimate",
                  nBuckets: Int = 32): DataFrame = {
    val (a0, inner) = assignShardsTracked(docs, orderCol, textCol,
      shardTokens, tokenizer, nBuckets)
    val a = a0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      a.write.mode("overwrite").partitionBy("shard_id").parquet(outRoot)
      // The manifest is shard-count-sized: materialize it eagerly
      // (localCheckpoint severs the lineage back to `a`) so BOTH persisted
      // frames — the assignment frame and the prefix-sum stage's internal
      // bucketed frame — can be RELEASED deterministically instead of
      // lingering until the caller's reference is GC'd.
      a.groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col(orderCol)).as("first_id"), max(col(orderCol)).as("last_id"))
        .transform(Materialize.ck)
    } finally {
      a.unpersist(blocking = false)
      inner.unpersist(blocking = false)
    }
  }

  /** Key-order-monotone bucket assignment with near-equal row counts per
    * bucket regardless of key skew: boundaries are the key's quantiles
    * (one `approxQuantile` pass, driver holds `nBuckets` doubles), bucket
    * = 1 + #boundaries strictly below the key — a codegen'd comparison
    * chain, no shuffle. */
  private[graft] def quantileBucket(df: DataFrame, orderCol: String,
                                    nBuckets: Int): Column = {
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else df.stat.approxQuantile(orderCol, probs, 0.001).distinct.sorted
    bounds.foldLeft(lit(1)) { (acc, b) =>
      acc + when(col(orderCol).cast("double") > b, 1).otherwise(0)
    }
  }

  /** Bucket assignment for NON-numeric orderable keys (uuid strings,
    * etc.): boundaries come from a seeded sample (the RangePartitioner
    * recipe), comparisons run in the key's native order. Sampling only
    * affects balance — any monotone boundary set gives a correct prefix
    * sum. */
  private[graft] def sampledBucket(df: DataFrame, orderCol: String,
                                   nBuckets: Int): Column = {
    // boundaries must sort in SPARK's order (UTF8 binary for strings —
    // a driver-side String sort can disagree on surrogate pairs), so the
    // sample is distinct'd and ordered by the engine before collecting.
    // The sample size is bounded by CALIBRATING THE FRACTION from a
    // count, never by orderBy+limit: a limit keeps only the SMALLEST
    // sampled keys, so past ~limit/fraction rows every boundary would
    // sit in the key space's low tail and one bucket would hold nearly
    // the whole corpus — the single-task funnel this machinery exists
    // to avoid. The count is one column-pruned scan; prefix sums over
    // string keys pay it once per call.
    val n = df.count()
    if (n == 0) return lit(1)
    val fraction = math.min(1.0, 120.0 * nBuckets / n.toDouble)
    val sample = df.select(col(orderCol))
      .sample(withReplacement = false, fraction, seed = 42)
      .distinct().orderBy(col(orderCol))
      .collect().map(_.get(0))
    val step = math.max(1, sample.length / nBuckets)
    val bounds = sample.zipWithIndex
      .collect { case (v, i) if i % step == step - 1 => v }
      .take(nBuckets - 1)
    bounds.foldLeft(lit(1)) { (acc, b) =>
      acc + when(col(orderCol) > lit(b), 1).otherwise(0)
    }
  }

  /** Concat-then-slice sequence packing (GPT-style pretraining batches):
    * documents are concatenated in `orderCol` order into one virtual token
    * stream cut every `budget` tokens. Emits each doc's absolute token
    * offset and the first/last pack it lands in — the metadata a training
    * loader needs to materialize packed sequences. Cost = one distributed
    * prefix sum ([[exclusivePrefixSum]]); no doc ever moves. */
  def packConcat(docs: DataFrame, orderCol: String, tokenCol: String,
                 budget: Int, nBuckets: Int = 64,
                 skewRobust: Boolean = false): DataFrame = {
    require(budget > 0, "budget must be positive")
    val withStart = exclusivePrefixSum(docs, orderCol, tokenCol, nBuckets,
      out = "start_offset", skewRobust = skewRobust)
    withStart
      .withColumn("pack_first", floor(col("start_offset") / budget))
      .withColumn("pack_last",
        floor(greatest(col("start_offset") + col(tokenCol) - 1,
          col("start_offset")) / budget))
  }

  // ---- deterministic shuffle + weighted mixtures -------------------------

  /** Deterministic training-order SHUFFLE: each row's `shuffle_pos` is
    * the rank of its seeded hash (md5 of `"seed:id"` — engine-portable,
    * uniform, RNG-free, rerun-stable), 0-based. Training runs need a
    * reproducible global permutation of the corpus; `rand()` is neither
    * rerun- nor partitioning-stable, and a global `row_number` window is
    * a single-task funnel — this is a distributed prefix COUNT over the
    * hash order ([[exclusivePrefixSum]] of ones), so every stage stays
    * parallel at any corpus size. Requires unique ids (md5 collisions at
    * corpus scale are negligible and only perturb adjacent positions). */
  def shuffleOrder(docs: DataFrame, idCol: String, seed: Long,
                   nBuckets: Int = 64): DataFrame = {
    val hashed = docs
      .withColumn("__shuffle_key",
        md5(concat_ws(":", lit(seed.toString), col(idCol).cast("string"))))
      .withColumn("__one", lit(1L))
    exclusivePrefixSum(hashed, "__shuffle_key", "__one", nBuckets,
      out = "shuffle_pos")
      .drop("__one", "__shuffle_key")
  }

  /** Weighted corpus MIXTURE — the "data mixture" step of a pretraining
    * pipeline: each source keeps a deterministic `weight` fraction of its
    * rows and rides into the union tagged `mix_source`. The sampling rule
    * is the first 8 hex chars of md5(`"seed:name:id"`) compared against
    * `floor(weight·2³²)` rendered as 8 hex digits — a pure string
    * comparison, so it is stable under repartitioning, reproducible
    * across engines (DuckDB computes the identical rule), and consistent
    * per id. Map-side filter per source + union: NO shuffle at any
    * scale. Sources must share a schema (project first). */
  def mixture(sources: Seq[(String, DataFrame, Double)], idCol: String,
              seed: Long): DataFrame = {
    require(sources.nonEmpty, "at least one source required")
    sources.map { case (name, df, w) =>
      require(w >= 0 && w <= 1, s"weight of $name must be in [0,1], got $w")
      val kept =
        if (w >= 1) df
        else if (w <= 0) df.where(lit(false))
        else {
          val threshold = f"${math.floor(w * 4294967296.0).toLong}%08x"
          df.where(substring(md5(concat_ws(":", lit(seed.toString),
            lit(name), col(idCol).cast("string"))), 1, 8) < lit(threshold))
        }
      kept.withColumn("mix_source", lit(name))
    }.reduce(_ unionByName _)
  }

  /** TEMPERATURE-rebalanced mixture (the mT5 §3.2 / XLM-R sampling rule,
    * public multilingual practice): the target sampling distribution is
    * q_i ∝ p_i^alpha over source shares p_i = c_i/Σc — alpha = 1 keeps
    * natural proportions, alpha → 0 equalizes sources, upweighting
    * low-resource ones. Realized DOWNSAMPLE-ONLY (no replacement
    * duplication): per-source keep fractions w_i ∝ p_i^(alpha-1),
    * normalized so the binding source (the smallest, under alpha < 1)
    * keeps everything — kept_i ∝ p_i^alpha exactly, with maximal data
    * retention. Derivation costs one column-pruned count per source
    * (metadata jobs); sampling is [[mixture]]'s engine-portable
    * deterministic hash rule, map-side, no shuffle. Returns the mixture
    * and the derived (source, weight) receipt — surface it: silent
    * rebalancing is how mixtures drift. */
  def temperatureMixture(sources: Seq[(String, DataFrame)], alpha: Double,
                         idCol: String, seed: Long)
      : (DataFrame, Seq[(String, Double)]) = {
    require(sources.nonEmpty, "at least one source required")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0,1] (1 = natural shares, 0 = uniform), got $alpha")
    val counts = sources.map { case (n, df) => (n, df.count().toDouble) }
    counts.foreach { case (n, c) =>
      require(c > 0, s"source $n is empty — temperature shares are undefined") }
    val total = counts.map(_._2).sum
    // alpha = 0.5 is the common setting and stays BIT-EXACT across
    // engines (sqrt and division are correctly-rounded IEEE ops; a
    // generic pow is not), so oracles can replay the exact thresholds
    val raw = counts.map { case (n, c) =>
      (n, if (alpha == 0.5) math.sqrt(total / c)
          else math.pow(c / total, alpha - 1.0))
    }
    val mx = raw.map(_._2).max
    val weights = raw.map { case (n, r) => (n, r / mx) }
    val wmap = weights.toMap
    (mixture(sources.map { case (n, df) => (n, df, wmap(n)) }, idCol, seed),
      weights)
  }

  /** BM25 ranking of the corpus against a literal term query (Robertson
    * & Zaragoza 2009; the Okapi defaults k1 = 1.2, b = 0.75) — the
    * classic retrieval scorer next to [[tfidfTopTerms]]'s salience
    * ranking. IDF = ln(1 + (N - df + 0.5)/(df + 0.5)) (the
    * non-negative Lucene form), tf saturates by k1 and normalizes by
    * doc length against the corpus average.
    *
    * Scale shape: the corpus side explodes tokens FILTERED to the query
    * terms before anything shuffles (query-selective — the posting
    * rows, not the corpus, cross the wire), then one doc-keyed partial
    * agg; df and avgdl are metadata-sized aggregates broadcast back;
    * the final top-k is a TakeOrdered (never a global sort). Ties break
    * by doc id, so the ranking is fully deterministic. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "empty query")
    require(k > 0, "k must be positive")
    val terms = query.map(_.toLowerCase).distinct
    // lens feeds BOTH the corpus stats aggregate and the per-doc length
    // join — materialize the (id, dl) proxy table once (16 bytes/doc,
    // the §8 decide-with-small-rows shape) instead of tokenizing the
    // corpus twice (guide §7.2)
    val lens = Materialize.ck(docs.select(col(idCol),
      TextFunctions.tokenCount(lower(col(textCol))).cast("double").as("__dl")))
    val stats = lens.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("__dl")).as("__avgdl"))
    // postings feed BOTH the tf side and the docfreq aggregate —
    // tf ⋈ docfreq(tf) defeats exchange reuse (column pruning, the house
    // gotcha), so the un-materialized form re-tokenized the corpus per
    // reference. Materialize the query-selective posting table once; df
    // then aggregates the checkpoint (a per-term count window would be
    // one evaluation too, but it lands a common term's whole posting
    // list in ONE task — the degenerate-window skew shape — where the
    // groupBy keeps map-side partials).
    val postings = Materialize.ck(docs
      .select(col(idCol),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("__t"))
      .where(col("__t").isin(terms: _*))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf")))
    val df = postings.groupBy(col("__t"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5))
    postings
      .join(broadcast(df), "__t")
      // lens is corpus-sized — never broadcast it; the postings side is
      // query-selective (small), so AQE broadcasts THAT into the
      // id-keyed join
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (idf * (col("__tf") * lit(k1 + 1)) /
          (col("__tf") + lit(k1) * (lit(1 - b) +
            lit(b) * col("__dl") / col("__avgdl")))).as("__s"))
      .groupBy(col(idCol))
      .agg(round(sum(col("__s")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  // ---- persisted BM25 inverted index -------------------------------------

  /** One doc's (term, doc, tf, dl) posting rows, term-led `idx_key`
    * (`term:<14-digit doc id>` — the digit suffix is fixed-length, so
    * keys are unique even for terms containing ':') so a graft postings
    * table CLUSTERS by term and a term probe prunes FILES. `dl` is
    * denormalized onto every posting so scoring never joins the length
    * table. */
  private def bm25PostingRows(docs: DataFrame, textCol: String,
                              idCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokenCount(lower(col(textCol))).cast("long").as("dl"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(concat(col("term"), lit(":"),
          lpad(col("doc_id").cast("string"), 14, "0")).as("idx_key"),
        col("term"), col("doc_id"), col("tf"), col("dl"))

  /** Doc-length rows for the companion `doclen` table (EVERY doc, empty
    * ones included — they count in N and avgdl, the q147 lens rule).
    * `grp` is the constant group key the corpus-stats AggView hangs off
    * (cnt = N, sum_dl; both exact longs, so sum_dl/cnt is bit-identical
    * to the scan path's avg). */
  private def bm25LenRows(docs: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      TextFunctions.tokenCount(lower(col(textCol))).cast("long").as("dl"),
      lit(0L).as("grp"))

  /** ~128 MB-per-file count from plan statistics, in [1, capped
    * partition count] — the guide §6 output-sizing rule for freshly
    * created index tables. */
  private def statsFiles(df: DataFrame, maxCap: Int): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = math.max(1, df.rdd.getNumPartitions.min(maxCap))
    math.max(1L, math.min((est / (128L * 1024 * 1024)).toLong,
      cap.toLong)).toInt
  }

  /** Seed a PERSISTED BM25 inverted index at `indexRoot` — the
    * [[graft.operators.Dedup.dedupIncremental]] discipline applied to
    * retrieval: sparse search over a continuously ingested corpus
    * should re-tokenize only each arriving batch, and a probe should
    * read postings for ITS terms, not the corpus.
    *
    * Two graft tables: `postings` keyed by the term-led `idx_key`
    * (term-clustered files + dim zone maps on `term`, so a probe's
    * `IN` set prunes FILES — the probe-layout dedup-index machinery)
    * and `doclen` keyed by doc id (exact N/avgdl without scanning
    * text). At 100 TB the postings table is the tokenized corpus
    * (≪ raw text), `doclen` is 16 bytes/doc, and probe IO is
    * ∝ postings of the queried terms. No corpus-stats view is built
    * here: the one reader of that view
    * ([[bm25TopKIndexed]] with `statsFromView`) refreshes it. */
  def bm25SeedIndex(indexRoot: String, docs: DataFrame, textCol: String,
                    idCol: String, indexFiles: Int = 0): Unit = {
    val spark = docs.sparkSession
    // the postings and doclen sides write to INDEPENDENT tables — build
    // them concurrently so each side's jobs back-fill the cores the
    // other leaves idle (guide §2.6 — overlap independent jobs; the
    // Bench.ingest pattern); each side's own commits are unchanged.
    // Submission goes through the BOUNDED shared pool, and awaitAll
    // waits for BOTH sides before propagating a failure (no write still
    // in flight when the caller starts handling the exception).
    import scala.concurrent.Future
    import Overlap.ec
    val postingsSide = Future {
      val postings = bm25PostingRows(docs, textCol, idCol)
      // scale-adaptive sizing (guide §6): ~128 MB per file from the plan's
      // statistics, clamped to the old partition-derived cap — a fixture
      // corpus seeds ONE postings file (later merges open 1, not 32), a
      // 100 TB corpus gets a byte-proportional count
      val nP = if (indexFiles > 0) indexFiles
        else statsFiles(postings, 32)
      graft.GraftTable.create(postings, s"$indexRoot/postings", "idx_key", nP)
      graft.sources.MutableParquetTable.attachDimRanges(spark,
        graft.streaming.CdcMergeSink.latestSnapshot(s"$indexRoot/postings"),
        Seq("term"))
    }
    val doclenSide = Future {
      val lens = bm25LenRows(docs, textCol, idCol)
      graft.GraftTable.create(lens, s"$indexRoot/doclen", "doc_id",
        statsFiles(lens, 16)): Unit
    }
    Overlap.awaitAll(Seq(postingsSide, doclenSide)): Unit
  }

  /** Ingest one batch into the persisted BM25 index: tokenize the BATCH
    * map-side, upsert its postings and lengths as ordinary graft CoW
    * merges — per-ingest cost ∝ batch + the dirty index files its terms
    * route to, never the index. Re-ingesting an unchanged batch is
    * idempotent (same (term, doc) keys upsert to the same rows).
    *
    * Contract: APPEND-ONLY corpus semantics. Re-ingesting a CHANGED doc
    * updates lengths and shared-term postings but leaves postings for
    * its REMOVED terms stale (upserts can't know them) — the FAISS
    * add_with_ids trade: document-update/delete drift is remedied by
    * rebuild ([[bm25SeedIndex]]), not per-batch retraining. Returns the
    * postings-table version.
    *
    * An ingest commits the two tables and nothing else: the corpus-stats
    * view over `doclen` is not maintained here but caught up by its one
    * reader ([[bm25TopKIndexed]] with `statsFromView`), so index
    * maintenance stays off the ingest's critical path. */
  def bm25IndexIngest(indexRoot: String, newDocs: DataFrame,
                      textCol: String, idCol: String): Long = {
    val spark = newDocs.sparkSession
    // the doclen and postings commits touch INDEPENDENT tables —
    // overlap them (guide §2.6, bounded pool); awaitAll holds the
    // failure until both sides have quiesced
    import scala.concurrent.Future
    import Overlap.ec
    val doclenSide = Future {
      graft.GraftTable(spark, s"$indexRoot/doclen", "doc_id")
        .commit(bm25LenRows(newDocs, textCol, idCol)
          .withColumn("op", lit("upsert"))): Unit
    }
    val postingsVersion = Future {
      graft.GraftTable(spark, s"$indexRoot/postings", "idx_key")
        .commit(bm25PostingRows(newDocs, textCol, idCol)
          .withColumn("op", lit("upsert")))
    }
    Overlap.awaitAll(Seq(doclenSide.map(_ => -1L), postingsVersion)).last
  }

  /** BM25 top-k served FROM the persisted index — bit-identical scoring
    * to [[bm25TopK]] (same Column expression shapes, so the q147 oracle
    * replays this path verbatim) with the corpus stages replaced by
    * index reads, in three Spark jobs:
    *
    *  - one pass over the term-filtered postings (dim zone maps prune
    *    files before IO) and the corpus-stats relation yields each query
    *    term's df (exact — a term's df is its posting count), N and Σdl.
    *    Partial counts are taken map-side and merged on the driver
    *    (≤ one entry per query term plus three longs);
    *  - the scoring query takes N, avgdl = Σdl / N and each term's df as
    *    literals: one postings scan, one shuffle, the top-k — no
    *    broadcast and no second postings scan. Σdl is an exact long, so
    *    the quotient equals the scan path's double `avg` (Σdl < 2^53).
    *
    * The stats relation is the compact `doclen` table — or, with
    * `statsFromView`, ONE maintained [[graft.streaming.AggView]] row
    * (cnt, sum_dl — exact longs, so scores cannot drift between the two).
    * The view is refreshed HERE, by the query that reads it: the refresh
    * catches up every doclen version committed since the last read (one
    * change feed + one delta aggregate per version; nothing when already
    * current), and it is idempotent and safe beside a concurrent
    * refresher ([[graft.streaming.AggView.refresh]] publishes each
    * version atomically). A freshly seeded index has no version beyond
    * `base` and so no view; its stats come from `doclen` itself.
    *
    * Both passes read the postings relation created here, which pins its
    * snapshot, so an ingest landing between this call and the result's
    * evaluation cannot mix snapshots. When no query term is in the
    * index the result is an empty frame and no scoring job runs.
    * Nothing here touches document text. */
  def bm25TopKIndexed(spark: SparkSession, indexRoot: String,
                      query: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      statsFromView: Boolean = false): DataFrame = {
    require(query.nonEmpty, "empty query")
    require(k > 0, "k must be positive")
    val terms = query.map(_.toLowerCase).distinct
    val post = spark.read.format("graft").load(s"$indexRoot/postings")
      .where(col("term").isin(terms: _*))
      .select(col("term").as("__t"), col("doc_id"),
        col("tf").cast("double").as("__tf"),
        col("dl").cast("double").as("__dl"))
    // stats rows: (no term, docs counted, their dl sum, docs with a dl) —
    // the doclen scan's count(1) and avg(dl) semantics, or the view's cnt
    // and sum_dl
    val doclen = s"$indexRoot/doclen"
    val fromView = statsFromView && {
      graft.streaming.AggView.refresh(spark, doclen, Seq("grp"), Seq("dl"))
      // a freshly seeded index has no version beyond base, so no view
      graft.streaming.AggView.viewVersions(doclen).nonEmpty
    }
    val noTerm = lit(null).cast("string")
    val stats =
      if (fromView) graft.streaming.AggView.read(spark, doclen)
        .select(noTerm, col("cnt").cast("long").as("__n"),
          col("sum_dl").cast("long").as("__sdl"),
          col("cnt").cast("long").as("__ndl"))
      else spark.read.format("graft").load(doclen)
        .select(noTerm, lit(1L).as("__n"), col("dl").cast("long").as("__sdl"),
          lit(1L).as("__ndl"))
    val Bm25Stats(dfs, n, sumDl, nDl) = bm25Stats(post, stats)
    val avgdl =
      if (nDl == 0) lit(null).cast("double") else lit(sumDl.toDouble / nDl)
    val df = dfs.foldLeft(lit(null).cast("double")) { case (c, (t, d)) =>
      when(col("__t") === t, lit(d.toDouble)).otherwise(c) }
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - df + 0.5) / (df + 0.5))
    val scored = post
      .select(col("doc_id"),
        (idf * (col("__tf") * lit(k1 + 1)) /
          (col("__tf") + lit(k1) * (lit(1 - b) +
            lit(b) * col("__dl") / avgdl))).as("__s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__s")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
    // limit(0) plans as an empty local relation: no job
    if (dfs.isEmpty) scored.limit(0) else scored
  }

  /** Per-term posting counts plus the corpus stats (N, Σdl, docs with a
    * dl) behind one [[bm25TopKIndexed]] probe. */
  private final case class Bm25Stats(df: Map[String, Long], n: Long,
                                     sumDl: Long, nDl: Long)

  /** ONE job over `post` (term-filtered postings, `__t` first) and
    * `stats` (rows of (null, n, Σdl, nDl), a null Σdl counting in n
    * only): each partition folds its rows into a [[Bm25Stats]], the
    * driver merges them. */
  private def bm25Stats(post: DataFrame, stats: DataFrame): Bm25Stats =
    post.select(col("__t"), lit(0L), lit(0L), lit(0L)).union(stats)
      .queryExecution.toRdd.mapPartitions { it =>
        val df = scala.collection.mutable.HashMap.empty[String, Long]
        var n = 0L; var sumDl = 0L; var nDl = 0L
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val t = r.getUTF8String(0).toString
            df(t) = df.getOrElse(t, 0L) + 1L
          } else {
            n += r.getLong(1)
            if (!r.isNullAt(2)) { sumDl += r.getLong(2); nDl += r.getLong(3) }
          }
        }
        Iterator(Bm25Stats(df.toMap, n, sumDl, nDl))
      }.fold(Bm25Stats(Map.empty, 0L, 0L, 0L)) { (a, c) =>
        Bm25Stats(c.df.foldLeft(a.df) { case (m, (t, x)) =>
          m.updated(t, m.getOrElse(t, 0L) + x) },
          a.n + c.n, a.sumDl + c.sumDl, a.nDl + c.nDl)
      }

  // ---- salient terms (tf-idf) --------------------------------------------

  /** Top-`k` salient terms per document. Terms are lowercase alphanumeric
    * words of >= 3 chars minus stopwords; salience rank is the INTEGER key
    * (tf desc, docfreq asc, term asc) — same direction as tf-idf but exactly
    * reproducible across engines (float tf-idf products can tie-flip in the
    * last ulp); the float tf-idf score is still emitted for consumers.
    *
    * Scale shape: ONE pass over the corpus (the token explode is the
    * expensive stage and runs exactly once): tf partial-combines on
    * (doc, term); docfreq is a count window over `term` on the tf rows —
    * a join-free formulation that sidesteps the classic shared-subtree
    * recompute (a tf ⋈ docfreq(tf) self-join re-explodes the corpus for
    * the second branch because column pruning defeats exchange reuse).
    * Window partition cardinalities are vocabulary resp. corpus sized —
    * never a funnel. */
  /** Cross-document LINE deduplication (the CCNet/C4 paragraph-dedup
    * family): drop every line whose trimmed content appears in more than
    * `maxDocs` DISTINCT documents — boilerplate (headers, nav bars,
    * cookie banners) repeats across a crawl while real prose doesn't.
    * Documents come back with the surviving lines re-joined in original
    * order as `textCol`; a document whose every content line was
    * boilerplate drops out entirely. Lines shorter than `minLineChars`
    * after trimming (blank separators and stray punctuation) are always
    * kept — they are structure, not content, and counting them would
    * make every document look like every other.
    *
    * Scale shape: one map-side explode (posexplode over a codegen'd
    * split), one partial-agg count keyed by (fingerprint, line) — the
    * 64-bit fingerprint leads the grouping key so the shuffle hashes
    * uniformly and the carried line string disambiguates fingerprint
    * collisions exactly — a broadcast-or-shuffle join of lines against
    * the (rare) duplicated set, and one per-document reassembly agg
    * (partition key = doc id, cardinality = corpus: never a funnel).
    * Join volume ∝ duplicated lines, not corpus lines: the duplicate
    * side is filtered to `docs > maxDocs` BEFORE the join, so at web
    * scale the anti-join's build side is the boilerplate dictionary. */
  def dedupLines(docs: DataFrame, textCol: String, idCol: String,
                 maxDocs: Int = 1, minLineChars: Int = 1): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("__pos", "__line")))
      .withColumn("__t", trim(col("__line")))
    val content = col("__t").isNotNull && length(col("__t")) >= minLineChars
    val dup = lines.where(content)
      .groupBy(xxhash64(col("__t")).as("__fp"), col("__t"))
      .agg(countDistinct(col(idCol)).as("__docs"))
      .where(col("__docs") > maxDocs)
      .select(col("__fp"), col("__t").as("__dt"))
    // structure lines can never be joined out: `dup` holds content lines
    // exclusively (length >= minLineChars), so a short line's trimmed
    // form cannot match any build-side row
    val kept = lines.join(dup,
        lines("__t") === dup("__dt") && xxhash64(lines("__t")) === dup("__fp"),
        "left_anti")
    kept
      .groupBy(col(idCol))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          e => e("__line")), "\n").as(textCol))
  }

  /** Content-defined-chunk NOVELTY — the shift-robust counterpart of
    * [[dedupLines]]/q186: documents are cut at content-defined
    * boundaries ([[graft.functions.TextFunctions.cdcChunks]] — Rabin
    * rolling-hash cuts, so a prefix insertion or edit re-aligns every
    * downstream chunk instead of shifting all of them the way line or
    * fixed-width splitting would), then each doc is scored by the
    * fraction of its DISTINCT chunks whose FIRST holder (lowest id) is
    * the doc itself. A shifted near-copy of an earlier doc scores ~0:
    * only the chunks its edit actually touched are novel.
    *
    * Returns (doc_id, n_chunks, n_novel, novelty_micros) for EVERY
    * input doc (empty docs score 0 over 0). Scale shape is q186's:
    * chunking is map-side; first-holder credit comes from two
    * map-side-combined aggregations (min per chunk, count per first
    * holder) — a boilerplate chunk present in every doc collapses
    * before the shuffle, never a hot window partition — plus one
    * doc-keyed join of doc-sized tables. At web scale the chunk key
    * becomes xxhash64 with the carried text disambiguating (the
    * dedupLines discipline). */
  def cdcChunkNovelty(docs: DataFrame, idCol: String, textCol: String,
                      window: Int = 8, maskBits: Int = 6): DataFrame = {
    // ONE explicit exchange of the exploded chunk table serves the
    // distinct AND both aggregation branches (guide §2.4) — but keyed by
    // (doc_id, __chunk), not __chunk alone: a BOILERPLATE chunk shared
    // by most of the corpus (license headers are the canonical LLM-
    // corpus case) would land every copy in ONE partition under a
    // chunk-only key — the degenerate-key skew shape (guide §2.5) —
    // while the pair key spreads copies of a hot chunk uniformly (pair
    // rows are unique after the distinct, so it is perfect salting with
    // doc_id as the salt). The first-holder min then rides a partial
    // aggregation: each partition emits ≤ 1 row per chunk, so the
    // chunk-keyed exchange that follows carries near-distinct volume and
    // its hot key is bounded by the partition count, never the corpus.
    val dch = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.cdcChunks(col(textCol), window, maskBits))
          .as("__chunk"))
      .repartition(col("doc_id"), col("__chunk"))
      .distinct()
    val novel = dch.groupBy(col("__chunk"))
      .agg(min(col("doc_id")).as("__first"))
      .groupBy(col("__first")).agg(count(lit(1)).as("n_novel"))
      .withColumnRenamed("__first", "doc_id")
    val per = dch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(per, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_micros",
        expr("CAST(CASE WHEN n_chunks > 0 THEN " +
          "(n_novel * 1000000L) DIV n_chunks ELSE 0L END AS BIGINT)"))
  }

  /** EXACT-SUBSTRING duplicated-span REMOVAL (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): where
    * [[graft.operators.Dedup.duplicatedNgramStats]] COUNTS cross-document
    * repeated word-k-grams per doc (q95) and [[dedupLines]] strips exact
    * LINES (q113), this removes the duplicated SPANS THEMSELVES from
    * surviving documents. A word k-gram is duplicated when the identical
    * gram occurs in >= `minDocs` DISTINCT documents; every word covered
    * by a duplicated gram hit is removed and the doc is rebuilt from the
    * survivors in order (token-joined — output text is
    * whitespace-normalized to the tokenizer's canonical form, the same
    * contract as token-level chunking). Overlapping/adjacent gram hits
    * merge naturally: removal is the set UNION of covered positions, so
    * a run of consecutive duplicated grams strips one contiguous span.
    *
    * `keepFirst = true` (keep-first policy) leaves the lowest-id
    * document's copy of each gram intact — other docs holding it lose
    * theirs; `false` (keep-none) strips every copy everywhere. Returns
    * (idCol, textCol, n_removed) for EVERY input doc (docs with nothing
    * removed pass through token-joined; fully-duplicated docs come back
    * as the empty string with n_removed = token count).
    *
    * Scale shape: gram doc-stats are ONE shuffle whose key LEADS with
    * the gram's 64-bit fingerprint (uniform hashing; the carried string
    * disambiguates collisions exactly — [[dedupLines]]'s discipline);
    * the stats join back is inner, so only hits on DUPLICATED grams
    * flow further (rows ∝ duplicated mass, not corpus size); coverage
    * explode is ≤ k rows per hit and de-duplicates to span length;
    * reassembly is one shuffle on the doc id with per-doc memory
    * bounded by doc length — [[dedupLines]]'s collect-and-sort. */
  def removeDupSpans(docs: DataFrame, textCol: String, idCol: String,
                     k: Int = 5, minDocs: Int = 2,
                     keepFirst: Boolean = true): DataFrame = {
    require(k >= 1, "gram width must be positive")
    require(minDocs >= 2, "a span is duplicated only across >= 2 docs")
    // the tokenized base feeds FOUR branches (gram stats, gram probe,
    // word positions, totals) — materialize it once, or every branch
    // re-runs the tokenizer AND the whole upstream plan (in the q139
    // composition that upstream is the full dedupLines reconstruction,
    // re-executed per reference — the shared-subtree pruning gotcha)
    val base = docs.select(col(idCol).as("__id"),
      TextFunctions.tokens(col(textCol)).as("__toks"))
      .transform(Materialize.ck)
    // gram at 0-based position p covers words p..p+k-1; docs at or under
    // k tokens form ONE whole-doc gram (shingles()' contract, so q95's
    // dup counts and this removal agree on what "a duplicated gram" is)
    val grams = base.where(size(col("__toks")) > 0)
      .select(col("__id"), size(col("__toks")).as("__n"),
        posexplode(
          when(size(col("__toks")) <= k,
            array(concat_ws(" ", col("__toks"))))
          .otherwise(transform(
            sequence(lit(1), size(col("__toks")) - lit(k) + lit(1)),
            i => concat_ws(" ", slice(col("__toks"), i, lit(k)))))))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__gram")
      .withColumn("__fp", xxhash64(col("__gram")))
    val stats = grams.groupBy(col("__fp"), col("__gram"))
      .agg(countDistinct(col("__id")).as("__df"),
        min(col("__id")).as("__keep"))
      .where(col("__df") >= minDocs)
    val hits = grams.join(stats, Seq("__fp", "__gram"))
    val removable = (if (keepFirst) hits.where(col("__id") =!= col("__keep"))
                     else hits)
      .select(col("__id"), explode(sequence(col("__p"),
        least(col("__p") + lit(k - 1), col("__n") - 1))).as("__rm"))
      .distinct()
    val words = base
      .select(col("__id"), posexplode(col("__toks")).as(Seq("__p", "__w")))
    val kept = words.join(removable,
      words("__id") === removable("__id") && col("__p") === col("__rm"),
      "left_anti")
    val rebuilt = kept.groupBy(col("__id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__w")))),
          e => e("__w")), " ").as("__text"),
        count(lit(1)).as("__kept"))
    base.select(col("__id"), size(col("__toks")).as("__total"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__text"), lit("")).as(textCol),
        (col("__total") - coalesce(col("__kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** The C4 cleaning filter (Raffel et al. 2020, "Exploring the Limits
    * of Transfer Learning..." §2.2) — the other canonical corpus gate
    * next to the Gopher rules (q132): LINE rules drop boilerplate
    * lines, PAGE rules drop whole documents.
    *
    * Line keeps require: ends in terminal punctuation (. ! ? or a
    * closing double quote) AND at least `minWordsPerLine` words AND no
    * "javascript" mention (case-insensitive). Page drops: any "lorem
    * ipsum" (case-insensitive), any curly brace `{`, any policy-ish
    * phrase ("terms of use", "privacy policy", "cookie policy", "uses
    * cookies"), or fewer than `minSentences` sentences surviving the
    * line filter (sentence count = terminal-punctuation characters in
    * the kept text — the portable approximation both engines compute
    * identically).
    *
    * Returns EVERY input doc: (idCol, textCol = kept lines re-joined,
    * n_kept, n_dropped, c4_pass) — callers filter on the flag, so the
    * gate is auditable (what dropped and why stays queryable). The
    * rules are contains/suffix/count checks plus one whitespace-split
    * word count (`\s+` — a regex split, but one with identical
    * semantics in Java regex and RE2), so an external engine reproduces
    * them rule for rule. Map-side per line + one reassembly shuffle on
    * the DOC ID ONLY — the original text rides as an aggregated VALUE
    * (`first`), never in the shuffle key, so the exchange hashes and
    * compares 8-byte ids, not multi-KB strings ([[dedupLines]]'s
    * discipline). */
  def c4Filter(docs: DataFrame, textCol: String, idCol: String,
               minWordsPerLine: Int = 5,
               minSentences: Int = 3): DataFrame = {
    val lines = docs
      .select(col(idCol), col(textCol).as("__orig"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__t", trim(col("__line")))
    val lastChar = substring(col("__t"), -1, 1)
    val keep = (length(col("__t")) > 0) &&
      (lastChar.isin(".", "!", "?", "\"")) &&
      (size(split(col("__t"), "\\s+")) >= minWordsPerLine) &&
      !lower(col("__t")).contains("javascript")
    val perDoc = lines
      .groupBy(col(idCol))
      .agg(
        first(col("__orig")).as("__orig"),
        array_join(transform(array_sort(collect_list(
            when(keep, struct(col("__pos"), col("__line"))))),
          e => e("__line")), "\n").as("__text"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(keep, 0L).otherwise(1L)).as("n_dropped"))
    val kept = col("__text")
    val sentences = length(kept) -
      length(translate(kept, ".!?", ""))
    val lo = lower(col("__orig"))
    val pageOk = !lo.contains("lorem ipsum") &&
      !col("__orig").contains("{") &&
      !lo.contains("terms of use") && !lo.contains("privacy policy") &&
      !lo.contains("cookie policy") && !lo.contains("uses cookies") &&
      (sentences >= minSentences)
    perDoc.select(col(idCol), kept.as(textCol),
      col("n_kept"), col("n_dropped"),
      pageOk.cast("int").as("c4_pass"))
  }

  // ---- vocabulary / out-of-vocabulary rate ------------------------------

  /** Top-`topV` corpus vocabulary by exact token frequency (lowercased
    * whitespace tokens), ties at the boundary broken lexicographically —
    * fully deterministic, so the cut is replayable. Scale shape: one
    * (term)-keyed count shuffle (vocabulary-bounded output) + TakeOrdered
    * top-V; the corpus never sorts. */
  def vocabulary(docs: DataFrame, textCol: String, topV: Int): DataFrame = {
    require(topV > 0, "topV must be positive")
    docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("term_count"))
      .orderBy(col("term_count").desc, col("term"))
      .limit(topV)
  }

  /** Per-document out-of-vocabulary rate against a vocabulary table (the
    * tokenizer-coverage signal: how much of each doc a fixed vocab fails
    * to cover). Every doc returns — empty docs report 0/0 with rate 0.
    * Rate is emitted as floor-micros (the fixed-point compare
    * discipline). Scale shape: the vocabulary is broadcast (top-V is
    * metadata-sized by construction); one doc-keyed partial agg; the
    * docs-side reattach keeps empty docs visible. */
  def oovStats(docs: DataFrame, textCol: String, idCol: String,
               vocab: DataFrame, termCol: String = "term"): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("__t"))
    val joined = terms.join(
      broadcast(vocab.select(col(termCol).as("__t"), lit(1).as("__in"))),
      Seq("__t"), "left")
    val agg = joined.groupBy(col(idCol)).agg(
      count(lit(1)).as("__n"),
      sum(when(col("__in").isNull, 1L).otherwise(0L)).as("__oov"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_tokens"),
        coalesce(col("__oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_micros",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(floor(col("n_oov").cast("double") / col("n_tokens")
            * lit(1000000.0)).cast("long")))
  }

  // ---- cross-source overlap matrix ---------------------------------------

  /** Pairwise k-shingle overlap between corpus slices — "how much does
    * source A duplicate source B" — the cross-SOURCE complement of
    * [[diversityStats]] and the signal to read before [[mixture]] weights
    * two slices that are really one. Every unordered pair returns
    * (grams_a, grams_b, common, Jaccard as floor-micros), including
    * zero-overlap pairs.
    *
    * Scale shape: shingles distinct per (group, gram) — vocabulary-
    * bounded; the pair join keys on the gram with at most |groups| rows
    * per key (posting lists are per-GROUP after the distinct, so the join
    * volume is bounded by grams × groups², never corpus²); the explicit
    * gram repartition before the self-join's per-side renames makes the
    * distinct's exchange reusable instead of recomputed. The final
    * matrix assembly is groups²-sized — metadata. */
  def sourceOverlap(docs: DataFrame, textCol: String, groupCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val grams = docs
      .select(col(groupCol),
        explode(TextFunctions.shingles(col(textCol), k)).as("__g"))
      .where(col("__g") =!= "")
      .distinct()
      .repartition(col("__g"))
    val sizes = grams.groupBy(col(groupCol)).agg(count(lit(1)).as("__sz"))
    val common = grams.select(col(groupCol).as("source_a"), col("__g"))
      .join(grams.select(col(groupCol).as("source_b"), col("__g")), Seq("__g"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("common_grams"))
    val pairs = sizes
      .select(col(groupCol).as("source_a"), col("__sz").as("grams_a"))
      .crossJoin(
        sizes.select(col(groupCol).as("source_b"), col("__sz").as("grams_b")))
      .where(col("source_a") < col("source_b"))
    pairs.join(common, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("grams_a"),
        col("grams_b"),
        coalesce(col("common_grams"), lit(0L)).as("common_grams"))
      .withColumn("jaccard_micros",
        floor(col("common_grams").cast("double") /
          (col("grams_a") + col("grams_b") - col("common_grams"))
          * lit(1000000.0)).cast("long"))
  }

  // ---- leakage-safe train/test split -------------------------------------

  /** Deterministic train/test split with EXACT-duplicate leak detection:
    * assignment by the engine-portable md5 threshold rule ([[mixture]]'s
    * sampling hash, so an oracle replays membership), then every train
    * doc whose normalized text fingerprint also appears in the test
    * slice is flagged `leaked` — the doc an evaluation-honest pipeline
    * must drop from train (or the eval numbers measure memorization).
    * Every doc returns with (split, leaked) — the auditable-gate shape.
    *
    * Scale shape: split assignment is a pure map; leak detection is one
    * fingerprint-keyed join where only 16-byte-ish fingerprints shuffle
    * (the [[graft.operators.Dedup.exact]] discipline), never the text. */
  def leakageSafeSplit(docs: DataFrame, textCol: String, idCol: String,
                       testFrac: Double, seed: Long): DataFrame = {
    require(testFrac > 0.0 && testFrac < 1.0,
      s"testFrac must be in (0, 1), got $testFrac")
    val threshold = f"${math.floor(testFrac * 4294967296.0).toLong}%08x"
    val withFp = docs.select(col(idCol),
        TextFunctions.normalizedFingerprint(col(textCol)).as("__fp"))
      .withColumn("split",
        when(substring(md5(concat_ws(":", lit(seed.toString), lit("test"),
          col(idCol).cast("string"))), 1, 8) < lit(threshold), lit("test"))
          .otherwise(lit("train")))
    val testFps = withFp.where(col("split") === "test")
      .select(col("__fp")).distinct().withColumn("__leak", lit(1))
    withFp.join(testFps, Seq("__fp"), "left")
      .select(col(idCol), col("split"),
        (col("split") === "train" && col("__leak").isNotNull)
          .cast("int").as("leaked"))
  }

  // ---- hybrid retrieval: reciprocal-rank fusion ------------------------

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): combine
    * any number of independently-ranked candidate lists into one ranking
    * by `sum_i 1 / (rrfK + rank_i)`, the standard hybrid-retrieval merge
    * (BM25 + dense vectors) — rank-based, so the lists' incomparable raw
    * scores never mix. A document absent from a list contributes 0 for
    * that list.
    *
    * Each input is `(name, ranked)` where `ranked` carries `idCol` and
    * `rankCol` (1-based, unique per list); the output exposes each list's
    * rank as `<name>_rank` (null when absent) plus the fused `rrf` score,
    * top-`k` by (`rrf` desc, id) — ties across equal rank combinations
    * break deterministically on the id. The fused score is summed in the
    * given list order (left-to-right), so the double arithmetic is
    * reproducible term for term.
    *
    * Scale shape: the inputs are top-N retrieval results — k-sized by
    * construction, not corpus-sized — so the full-outer join chain and
    * the final TakeOrdered are metadata-sized no matter how large the
    * corpus behind the retrievers is. */
  def rrfFuse(ranked: Seq[(String, DataFrame)], idCol: String,
              rankCol: String, k: Int, rrfK: Int = 60): DataFrame = {
    require(ranked.nonEmpty, "need at least one ranked list")
    require(k > 0, "k must be positive")
    require(rrfK >= 0, "rrfK must be non-negative")
    val lists = ranked.map { case (name, df) =>
      df.select(col(idCol), col(rankCol).cast("int").as(s"${name}_rank"))
    }
    val joined = lists.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = ranked.map { case (name, _) =>
      coalesce(lit(1.0) / (lit(rrfK).cast("double") + col(s"${name}_rank")),
        lit(0.0))
    }.reduce(_ + _)
    joined
      .withColumn("rrf", round(score, 6))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Hybrid sparse+dense retrieval: [[bm25TopK]] lexical candidates fused
    * with exact-cosine dense candidates
    * ([[graft.operators.Similarity.bruteForceTopK]] — swap in the IVF/PQ
    * paths unchanged, they emit the same (id, rank) shape) via [[rrfFuse]].
    * `queryVec` is a one-row DataFrame carrying (`embIdCol`, `vecCol`);
    * `nCand` candidates are drawn from EACH retriever before fusion (the
    * standard over-retrieve-then-fuse shape), top-`k` fused rows return.
    *
    * Scale shape: each retriever does its own corpus-scale work with its
    * own scale story (BM25 filters postings to the query terms before any
    * shuffle; dense search broadcasts the query); fusion itself only ever
    * sees 2·nCand rows. */
  def hybridTopK(docs: DataFrame, textCol: String, idCol: String,
                 embs: DataFrame, vecCol: String, embIdCol: String,
                 terms: Seq[String], queryVec: DataFrame,
                 k: Int, nCand: Int = 50, rrfK: Int = 60,
                 native: Boolean = false): DataFrame = {
    // the window runs over the nCand-row BM25 result, not the corpus
    val bm25Ranked = bm25TopK(docs, textCol, idCol, terms, nCand)
      .select(col(idCol), row_number()
        .over(Window.orderBy(col("bm25").desc, col(idCol))).as("__rank"))
    val denseRanked = Similarity
      .bruteForceTopK(embs, queryVec, vecCol, embIdCol, nCand, native)
      .select(col("id").as(idCol), col("rank").as("__rank"))
    rrfFuse(Seq("bm25" -> bm25Ranked, "dense" -> denseRanked),
      idCol, "__rank", k, rrfK)
  }

  // ---- per-group quantile pruning --------------------------------------

  /** EXACT per-group quantile gate: flag the best `keepFrac` fraction of
    * each group by `scoreCol` — `ascending = true` keeps the SMALLEST
    * scores (perplexity-style: lower is better), `false` the largest
    * (quality-logit-style). Every row returns with a `kept` flag (the
    * auditable-gate shape — nothing silently disappears); the keep rule
    * is exactly `rank <= ceil(keepFrac * n_group)` under the total order
    * (score, id), bit-for-bit replayable by an oracle's row_number.
    *
    * Scale shape — the point of this operator is what it does NOT do:
    * no corpus-wide per-group sort (a per-language window at 100 TB is
    * one executor sorting terabytes). Instead: (1) one (group, score)
    * count aggregation — distinct-score-pair-sized; (2) a running-sum
    * window over that DISTINCT-score table (bounded by score cardinality,
    * not corpus rows — integer/fixed-point scores keep this small);
    * (3) rows join back on (group, score) to read their strictly-better
    * count, and only the single STRADDLING score value per group — the
    * one value whose tie block crosses the cutoff — gets an id-ordered
    * row_number over its own (small) tie block. Degenerate all-one-score
    * groups collapse to that tie-block sort; every other distribution
    * never sorts corpus rows at all. */
  def quantilePrune(docs: DataFrame, groupCol: String, scoreCol: String,
                    idCol: String, keepFrac: Double,
                    ascending: Boolean = true): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    gateByRank(docs, groupCol, scoreCol, idCol, ascending,
      ceil(col("__n") * lit(keepFrac)))
  }

  /** EXACT top-`k` rows per group by (score, id) — [[quantilePrune]]'s
    * machinery with an absolute cutoff instead of a fraction: same
    * distinct-score window, same straddling-tie-block-only sort, same
    * every-row-returns `kept` flag. */
  def topKPerGroup(docs: DataFrame, groupCol: String, scoreCol: String,
                   idCol: String, k: Int,
                   ascending: Boolean = true): DataFrame = {
    require(k > 0, "k must be positive")
    gateByRank(docs, groupCol, scoreCol, idCol, ascending,
      least(col("__n"), lit(k.toLong)))
  }

  /** Deterministic EXACT-k sample per group: keep the `k` rows with the
    * smallest portable hash (the [[mixture]] md5 rule keyed by the row
    * id), id tiebreak — replayable membership, uniform in the hash.
    * Honest scale note: hash scores are unique per row, so the
    * distinct-score table [[gateByRank]] windows over IS row-sized here —
    * the op still sorts only (group, hash, count) triples, never
    * payloads, but unlike integer-score pruning the sort is corpus-sized;
    * that is the inherent cost of exact-k uniform sampling. */
  def sampleExactK(docs: DataFrame, groupCol: String, idCol: String,
                   k: Int, seed: Long): DataFrame =
    topKPerGroup(
      docs.withColumn("__h", substring(md5(concat_ws(":",
        lit(seed.toString), lit("sample"), col(idCol).cast("string"))),
        1, 16)),
      groupCol, "__h", idCol, k, ascending = true)
      .drop("__h")

  /** WEIGHTED sampling WITHOUT replacement — exactly `k` rows per group
    * drawn with probability ∝ `weightCol` (A-ES / exponential-jitter
    * reservoir keys: Efraimidis & Spirakis, IPL 2006): each row's key
    * is ln(u)/w for a uniform u, and the k LARGEST keys per group are
    * a weighted sample without replacement (the paper's theorem). Made
    * DETERMINISTIC the [[mixture]]/[[sampleExactK]] way: u is the
    * engine-portable spread hash of (seed, id) over its modulus — an
    * exact-integer ratio in (0, 1) — so the single ln runs on a ratio
    * of exact integers (the q88 ln discipline) and the key lands in
    * floor-micros fixed point; an oracle replays hash, key arithmetic,
    * and membership verbatim. This is the standard quality-weighted
    * corpus-selection step after [[qualityLogit]]/perplexity scoring
    * (weight = a positive quality score); uniform-hash sampling
    * ([[sampleExactK]]) is the w ≡ 1 special case.
    *
    * Rows with NULL or non-positive weight are never sampled but still
    * return (`kept` = 0, null key) — the auditable-gate contract; `k`
    * applies to the positive-weight population. Scale shape =
    * [[topKPerGroup]]'s over row-unique keys (the [[sampleExactK]]
    * honest note: the rank table is row-sized, but only (group, key)
    * pairs sort — never payloads). Returns every input row +
    * (`sample_key_micros`, `kept`). */
  def weightedSample(docs: DataFrame, groupCol: String, weightCol: String,
                     idCol: String, k: Int, seed: Long): DataFrame = {
    require(k > 0, "k must be positive")
    val m1 = graft.functions.Udx.KmvMod + 1 // hash+1 ∈ [1, mod] ⊂ (0, m1)
    val h = graft.functions.Udx.kmvHash(concat_ws(":",
      lit(seed.toString), lit("wsample"), col(idCol).cast("string")))
    val keyed = docs.withColumn("__wsk",
      when(col(weightCol).isNotNull && col(weightCol) > 0,
        floor(log((h + 1).cast("double") / lit(m1.toDouble)) /
          col(weightCol).cast("double") * lit(1000000.0)).cast("long")))
    val pos = keyed.where(col("__wsk").isNotNull)
    val nonpos = keyed.where(col("__wsk").isNull)
      .withColumn("kept", lit(0))
    topKPerGroup(pos, groupCol, "__wsk", idCol, k, ascending = false)
      .unionByName(nonpos)
      .withColumnRenamed("__wsk", "sample_key_micros")
  }

  private def gateByRank(docs: DataFrame, groupCol: String,
                         scoreCol: String, idCol: String,
                         ascending: Boolean, kExpr: Column): DataFrame = {
    val ord = if (ascending) col(scoreCol).asc else col(scoreCol).desc
    val cnt = docs.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val wRun = Window.partitionBy(col(groupCol)).orderBy(ord)
    val cum = cnt.select(col(groupCol), col(scoreCol), col("__c"),
      (sum(col("__c")).over(wRun) - col("__c")).as("__before"))
    val lim = cnt.groupBy(col(groupCol)).agg(sum(col("__c")).as("__n"))
      .select(col(groupCol), kExpr.cast("long").as("__k"))
    // null-SAFE joins (<=>): a null group or score still groups, counts,
    // and ranks (Spark orders nulls first asc / last desc, deterministic),
    // so the "every row returns with a kept flag" contract holds — a
    // plain equi-join would silently drop null-keyed rows from the gate
    val cumR = cum.withColumnRenamed(groupCol, "__gq")
      .withColumnRenamed(scoreCol, "__sq")
    val limR = lim.withColumnRenamed(groupCol, "__gl")
    val gated = docs
      .join(cumR, col(groupCol) <=> col("__gq") && col(scoreCol) <=> col("__sq"))
      .drop("__gq", "__sq")
      .join(broadcast(limR), col(groupCol) <=> col("__gl"))
      .drop("__gl")
    val straddles = col("__before") < col("__k") &&
      col("__before") + col("__c") > col("__k")
    // non-straddling rows decide from counts alone — no sort touches them
    val clear = gated.where(!straddles)
      .withColumn("kept",
        (col("__before") + col("__c") <= col("__k")).cast("int"))
    // only the one crossing tie block per group is id-ranked
    val wTie = Window.partitionBy(col(groupCol), col(scoreCol))
      .orderBy(col(idCol))
    val straddle = gated.where(straddles)
      .withColumn("kept",
        (col("__before") + row_number().over(wTie) <= col("__k")).cast("int"))
    clear.unionByName(straddle)
      .drop("__c", "__before", "__k")
  }

  // ---- corpus diversity statistics --------------------------------------

  /** Per-group lexical-diversity report: document/token counts, DISTINCT
    * unigram and bigram vocabularies, and the type-token ratios
    * (distinct/total — the standard repetitiveness/diversity signals for
    * comparing corpus slices before mixing). Tokens are the engine's
    * lowercased whitespace tokens; bigrams are adjacent-token joins
    * within a document (never across documents).
    *
    * Scale shape: one token explode (corpus-token-sized by necessity,
    * same as every n-gram operator here) feeding exact two-phase
    * count-distinct aggregations — distinct grams are vocabulary-bounded,
    * far below corpus size. At 100 TB swap the exact distincts for
    * `approx_count_distinct` unchanged; the exact form is what the
    * oracle replays. */
  def diversityStats(docs: DataFrame, textCol: String, groupCol: String,
                     idCol: String): DataFrame = {
    val toks = docs.select(col(groupCol), col(idCol),
      TextFunctions.tokens(lower(col(textCol))).as("__toks"))
    val base = toks.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("__toks"))).cast("long").as("n_tokens"),
      sum(greatest(size(col("__toks")) - 1, lit(0))).cast("long")
        .as("n_bigrams"))
    val uni = toks
      .select(col(groupCol), explode(col("__toks")).as("__w"))
      .groupBy(col(groupCol))
      .agg(countDistinct(col("__w")).as("distinct_unigrams"))
    val bigrams = when(size(col("__toks")) >= 2,
      zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array())
    val bi = toks
      .select(col(groupCol), explode(bigrams).as("__b"))
      .groupBy(col(groupCol))
      .agg(countDistinct(col("__b")).as("distinct_bigrams"))
    base
      .join(uni, Seq(groupCol), "left")
      .join(bi, Seq(groupCol), "left")
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("n_bigrams"),
        coalesce(col("distinct_unigrams"), lit(0L)).as("distinct_unigrams"),
        coalesce(col("distinct_bigrams"), lit(0L)).as("distinct_bigrams"))
      .withColumn("ttr",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("distinct_unigrams").cast("double") /
            col("n_tokens"), 6)))
      .withColumn("bigram_ttr",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(round(col("distinct_bigrams").cast("double") /
            col("n_bigrams"), 6)))
  }

  // ---- PMI co-occurrence -------------------------------------------------

  /** Top-`k` co-occurring term pairs by pointwise mutual information:
    * `ln(df_ab·N / (df_a·df_b))` over DOCUMENT co-occurrence (all counts
    * are distinct-doc frequencies), restricted to the corpus's
    * `topVocab` most document-frequent content terms and pairs seen in
    * at least `minPairCount` docs — the classic collocation/topic
    * signal. The ratio is built integer-exact (long products, ONE
    * division) before the ln, so both engines round identically (the
    * q88 ln-agreement discipline); ordering on the rounded PMI with a
    * pair tiebreak.
    *
    * Scale shape: terms filter against the BROADCAST top-vocab before
    * the per-doc self-join, so pair volume is bounded by
    * docs × topVocab² at worst and the aggregate by topVocab² — the
    * corpus never pairs its full vocabulary. */
  def pmiPairs(docs: DataFrame, textCol: String, idCol: String,
               topVocab: Int, minPairCount: Long, k: Int): DataFrame = {
    require(topVocab > 0 && k > 0, "topVocab and k must be positive")
    // the exploded distinct doc-term table feeds the vocab aggregate AND
    // both sides of the pair self-join — materialize it once (two narrow
    // columns) instead of re-running tokenize+explode+distinct per
    // reference (guide §7.2); the id-keyed repartition before the
    // per-side renames lets the self-join reuse ONE exchange (the house
    // ReusedExchange discipline)
    val terms = Materialize.ck(docs
      .select(col(idCol),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("__t"))
      .where(col("__t").rlike("^[a-z0-9]{3,}$") &&
        !col("__t").isin(TextFunctions.stopwords: _*))
      .distinct())
    val vocab = terms.groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))
      .orderBy(col("__df").desc, col("__t"))
      .limit(topVocab)
    val dt = terms.join(broadcast(vocab), Seq("__t"))
      .repartition(col(idCol))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    dt.select(col(idCol), col("__t").as("term_a"), col("__df").as("__dfa"))
      .join(dt.select(col(idCol), col("__t").as("term_b"),
        col("__df").as("__dfb")), Seq(idCol))
      .where(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("pair_docs"),
        first(col("__dfa")).as("__dfa"), first(col("__dfb")).as("__dfb"))
      .where(col("pair_docs") >= minPairCount)
      .crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("pair_docs"),
        col("__dfa").as("df_a"), col("__dfb").as("df_b"),
        round(log((col("pair_docs") * col("__n")).cast("double") /
          (col("__dfa") * col("__dfb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(k)
  }

  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
                    k: Int): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val terms = docs
      .select(col(idCol), explode(TextFunctions.tokens(lower(col(textCol))))
        .as("term"))
      .where(col("term").rlike("^[a-z0-9]{3,}$") &&
        !col("term").isin(TextFunctions.stopwords: _*))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    withDf
      .crossJoin(broadcast(nDocs))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank").cast("int").as("rank"), col("term"),
        col("tf"), col("df"),
        round(col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)), 6)
          .as("tfidf"))
  }
}
