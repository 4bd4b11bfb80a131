package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions
import graft.functions.Udx
import graft.functions.VectorFunctions
import graft.operators.{CorpusPrep, Dedup, EventAnalytics, Graph, MergeOps, Similarity}
import graft.multimodal.Multimodal

/** Driver contract: the engine's declared operator inventory (SURVEY.md §2b)
  * as named queries, each with DuckDB oracle SQL where SQL-expressible.
  *
  * Determinism conventions (SURVEY.md §7.5): every double output is either
  * (a) a per-row arithmetic result (bit-identical across engines) rounded,
  * or (b) an aggregate computed over DECIMAL casts (order-independent exact
  * sums) cast back to double and rounded. Counts are int64 both sides; all
  * timestamps leave the engine as formatted strings; every query carries a
  * total ORDER BY. Column names are snake_case and aliased identically in
  * the Spark plan and the SQL.
  */
object SparkEntry {
  import Tables._

  /** Supplier node-id offset in the graph lanes (q192/q196/q203/q206/
    * q209) — 2^40, far above any o_custkey at any TPC-H scale factor,
    * so customer and supplier node-id spaces stay disjoint (a 1e6
    * offset would silently merge them at sf ≳ 7). Mirrored verbatim in
    * the OracleSql generators. */
  private[graft] val SuppNodeOffset: Long = 1L << 40

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the
    * lineitem⋈orders revenue rollup — scan, SMJ/broadcast join, hash agg. */
  def entry(spark: SparkSession): DataFrame =
    q05_join_agg(spark, "/root/testdata/sf0.001")

  // ---- helpers ------------------------------------------------------

  /** Exact aggregate of a double column: per-row cast to decimal (order-
    * independent sum), result back to double rounded to `r`. */
  private def dsum(c: Column, scale: Int = 2, r: Int = 2): Column =
    round(sum(c.cast(DecimalType(18, scale))).cast("double"), r)

  /** Content-keyed fixture-derivation cache (q47/q60/q69/q70): the derived
    * directory is keyed by the source file's size+mtime, so a stale cache
    * from a previous fixture can never serve wrong data — and it is only
    * considered valid when Spark's `_SUCCESS` commit marker exists, so a
    * crashed half-write is rebuilt rather than silently served. */
  private def cachedDerivedDir(dir: String, srcName: String, prefix: String)
                              (build: String => Unit): String = {
    val src = java.nio.file.Paths.get(s"$dir/$srcName")
    val token = s"${java.nio.file.Files.size(src)}-" +
      s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}"
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-$prefix-" +
      s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}-$token"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_SUCCESS")))
      build(out)
    out
  }

  private val fmtS = "yyyy-MM-dd HH:mm:ss"

  // ---- relational core ---------------------------------------------

  /** TPC-H Q1-style pricing summary: filter + hash agg w/ partial
    * aggregation; predicate pushes to parquet row-group stats. */
  def q01_agg_pricing(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6, 2).as("sum_disc_price"),
        round(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") / count(lit(1)), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + filter with computed column; pushdown-friendly. */
  def q02_filter_project(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
             col("l_shipdate") <  lit("1997-03-01").cast("timestamp") &&
             col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Global top-k: TakeOrderedAndProject, no full sort. */
  def q03_topk(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Broadcast-hash join chain over the small dims. */
  def q04_join_broadcast(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("r_name"))

  /** Large-side equi join (SMJ/shuffled-hash under AQE) + agg. */
  def q05_join_agg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6, 2).as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** Left-semi join (EXISTS). */
  def q06_semi_join(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .join(lineitem(s, dir).where(col("l_quantity") >= 45),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** Left-anti join (NOT EXISTS) — also the engine's delete primitive. */
  def q07_anti_join(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).where(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Left outer join preserving unmatched rows. */
  def q08_outer_join(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))

  /** Full-outer join of two aggregates. */
  def q09_full_outer(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val p = supplier(s, dir).groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, Seq("nk"), "full_outer")
      .select(col("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nk"))
  }

  /** Theta (non-equi range) join against a tiny literal bounds table —
    * BroadcastNestedLoop by construction. */
  def q10_theta_join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bins = Seq(("neg", -100000.0, 0.0), ("low", 0.0, 5000.0),
      ("high", 5000.0, 100000.0)).toDF("bucket", "lo", "hi")
    customer(s, dir)
      .join(broadcast(bins),
        col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Distinct aggregates (expand-based two-phase plan). */
  def q11_distinct_agg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        round(sum_distinct(col("l_quantity").cast(DecimalType(18, 2))).cast("double"), 2).as("sumd_qty"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP with grouping indicators. */
  def q12_rollup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("g_rf"), col("g_ls"), col("n"), col("sum_qty"))
      .orderBy(col("rf"), col("ls"), col("g_rf"), col("g_ls"))

  /** CUBE over order attributes. */
  def q13_cube(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        col("n"), col("sum_price"))
      .orderBy(col("st"), col("pri"))

  /** GROUPING SETS via the SQL surface. */
  def q14_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("gs_lineitem")
    s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n
      FROM gs_lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls""")
  }

  /** Ranking window functions, per-group top-3. */
  def q15_window_rank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"))
      .where(col("rn") <= 3)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** Running total (ROWS frame, exact decimal accumulation). */
  def q16_window_running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double"), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** RANGE frame (value-based window, tie-safe by construction). */
  def q17_window_range(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(floor(col("o_totalprice")).cast("long"))
      .rangeBetween(-10000L, 0L)
    orders(s, dir)
      .select(col("o_orderkey"), count(lit(1)).over(w).as("n_similar"))
      .orderBy(col("o_orderkey"))
  }

  /** lag/lead analytics. */
  def q18_window_lag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"),
        round(col("value") - lag(col("value"), 1).over(w), 2).as("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** UNION DISTINCT of two key sets. */
  def q19_union(s: SparkSession, dir: String): DataFrame =
    customer(s, dir).where(col("c_acctbal") > 9000).select(col("c_custkey"))
      .union(orders(s, dir).where(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("c_custkey")))
      .distinct()
      .orderBy(col("c_custkey"))

  /** INTERSECT. */
  def q20_intersect(s: SparkSession, dir: String): DataFrame =
    customer(s, dir).where(col("c_acctbal") > 5000).select(col("c_custkey"))
      .intersect(orders(s, dir).select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))

  /** EXCEPT. */
  def q21_except(s: SparkSession, dir: String): DataFrame =
    customer(s, dir).select(col("c_custkey"))
      .except(orders(s, dir).where(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))

  /** String function battery. */
  def q22_string_funcs(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .where(col("p_name").like("%a%"))
      .select(col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        substring(col("p_name"), 1, 5).as("pre"),
        length(col("p_name")).cast("int").as("len"),
        size(split(col("p_name"), " ")).as("n_words"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("tag"))
      .orderBy(col("p_partkey"))

  /** Date/time function battery. */
  def q23_date_funcs(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .where(col("o_orderdate") < lit("1995-06-01").cast("timestamp"))
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy(col("o_orderkey"))

  /** Math function battery. */
  def q24_math_funcs(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        round(col("p_retailprice") * 1.1, 2).as("marked_up"),
        round(abs(col("p_retailprice") - 1000.0), 2).as("dist"),
        floor(col("p_retailprice")).cast("long").as("fl"),
        ceil(col("p_retailprice")).cast("long").as("ce"),
        round(pow(col("p_size"), 2), 1).as("size_sq"),
        round(log(col("p_retailprice")), 6).as("ln_price"),
        round(sqrt(col("p_retailprice")), 6).as("sqrt_price"))
      .orderBy(col("p_partkey"))

  /** Array/HOF battery over the embedding column. */
  def q25_array_funcs(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")), 6).as("sq_norm"),
        round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
          (acc, x) => acc + x.cast("double")), 6).as("head_sum"))
      .orderBy(col("vec_id"))

  /** JSON extraction from the events props column. */
  def q26_json_funcs(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("k"))

  // ---- mutation parity (the reference's core) -----------------------

  /** Upsert+delete merge batch (ParquetRewriter.java:157-191 semantics):
    * custkey%10==3 upserted with a 10% acctbal bump, %10==7 deleted. */
  def q27_merge_mutations(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
    // the balance bump DOUBLES (×2 is exact in binary floating point):
    // round(double * 1.1, 2) straddled engine-specific rounding of exact
    // x.xx5 halves (Spark HALF_UP vs DuckDB's decimal cast — found at
    // sf0.1, 3 rows off by a cent), and no decimal plumbing makes the two
    // agree; an exact multiplier removes rounding from the pipeline
    val ups = c.where(col("c_custkey") % 10 === 3)
      .withColumn("c_acctbal", col("c_acctbal") * 2.0)
      .withColumn("op", lit("upsert"))
    val dels = c.where(col("c_custkey") % 10 === 7)
      .withColumn("op", lit("delete"))
    val merged = MergeOps.applyMutations(c, ups.unionByName(dels), "c_custkey")
    merged.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Delete-by-key (left anti) merge. */
  def q28_merge_delete(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
    val deleteKeys = c.where(col("c_custkey") % 7 === 0).select(col("c_custkey"))
    MergeOps.deleteByKey(c, deleteKeys, "c_custkey")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c_nationkey"))
  }

  /** Pure upsert (insert-or-replace) via union + row_number dedup. */
  def q29_merge_upsert(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val ups = o.where(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("R"))
    MergeOps.upsert(o, ups, "o_orderkey")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  // ---- LLM-pipeline: dedup / text / similarity ----------------------

  /** Exact dedup on normalized-content fingerprint. */
  def q30_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(documents(s, dir), "text", "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))

  /** Content fingerprints (md5 of normalized text). */
  def q31_fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.normalizedFingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Text statistics battery (token/punct/stopword/quality). */
  def q32_text_stats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextFunctions.meanWordLength(col("text")), 6).as("mean_word_len"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  /** Language-ID marker scores + argmax prediction. */
  def q33_langid(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.langScore(col("text"), "de").cast("int").as("score_de"),
        TextFunctions.langScore(col("text"), "en").cast("int").as("score_en"),
        TextFunctions.langScore(col("text"), "es").cast("int").as("score_es"),
        TextFunctions.langScore(col("text"), "fr").cast("int").as("score_fr"),
        TextFunctions.langScore(col("text"), "zh").cast("int").as("score_zh"),
        TextFunctions.langId(col("text")).as("predicted"))
      .orderBy(col("doc_id"))

  /** Language-ID CONFUSION matrix: the engine's langId prediction
    * scored against the corpus's true `lang` labels, per (true,
    * predicted) cell with a diagonal flag — the eval report for the
    * classifier the cleaning pipeline routes on. (On this synthetic
    * corpus the report exposes exactly what it should: the text is
    * English-like word soup under random lang labels, so only the `en`
    * diagonal hits — the matrix is the tool that WOULD catch that in a
    * real corpus.) Pure map + a |langs|²-sized aggregate. */
  def q168_lang_confusion(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("lang"), TextFunctions.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hit", (col("lang") === col("predicted")).cast("int"))
      .orderBy(col("lang"), col("predicted"))

  /** Corpus DATASHEET: the one-row dataset card — doc/token/language
    * counts, exact-duplicate mass (fingerprint distinct), learned-gate
    * pass count, and the mean quality logit — every number exact
    * integer arithmetic (logits are fixed-point longs; the mean is a
    * floor-division with sums far below 2^53). One pass over the
    * corpus; the two count-distincts are the only shuffles. */
  def q169_datasheet(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val w = derivedQualityWeights(1024)
    documents(s, dir)
      .select(col("lang"),
        tokenCount(col("text")).cast("long").as("__tk"),
        qualityLogit(col("text"), w).as("__lg"),
        normalizedFingerprint(col("text")).as("__fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tk")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("__fp"))).as("n_dup_docs"),
        sum((col("__lg") >= 0L).cast("long")).as("n_quality_pass"),
        floor(sum(col("__lg")).cast("double") / count(lit(1)))
          .cast("long").as("mean_logit_floor"))
  }

  /** Exact char-3-gram Jaccard over all pairs of a small doc slice. */
  def q34_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).where(col("doc_id") < 25)
    val ids = docs.select(col("doc_id").as("id_a"))
      .crossJoin(docs.select(col("doc_id").as("id_b")))
      .where(col("id_a") < col("id_b"))
    Dedup.ngramJaccard(documents(s, dir), ids, "text", "doc_id", 3)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact brute-force cosine top-10 for 5 query vectors. */
  def q35_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), "embedding", "vec_id", 10,
        native = true)
      .select(col("query_id"), col("id").as("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- events: windowed / sessionized time analytics ----------------

  /** Tumbling 1-hour window aggregation (batch form of the streaming op). */
  def q36_tumbling_window(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(date_format(col("window.start"), fmtS).as("hour_start"),
        col("n"), col("sum_value"))
      .orderBy(col("hour_start"))

  /** Sliding 1-hour/30-min windows. */
  def q37_sliding_window(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(date_format(col("window.start"), fmtS).as("window_start"),
        col("n"), col("sum_value"))
      .orderBy(col("window_start"))

  /** Sessionization, 30-minute inactivity gap (gaps-and-islands). */
  def q38_sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val newSession = when(
      lag(col("ts"), 1).over(byUser).isNull ||
      col("ts").cast("double") - lag(col("ts"), 1).over(byUser).cast("double") > 1800.0,
      1).otherwise(0)
    events(s, dir)
      .withColumn("new_s", newSession)
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(date_format(min(col("ts")), fmtS).as("session_start"),
        count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .drop("sid")
      .select(col("user_id"), col("session_start"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Keep-first dedup per (user, event_type) — batch form of streaming
    * dropDuplicates. */
  def q39_first_event(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"),
        date_format(col("ts"), fmtS).as("first_ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // ---- approximate / engine-internal (rows-only checks) -------------

  /** HLL++ approximate distinct. The sketch internals have no
    * cross-engine oracle, so the query emits the exact count plus an
    * `approx_ok` flag asserting the HLL++ estimate (rsd 0.02) landed
    * within 5% of it — Spark's estimate is deterministic, so the flag is
    * stable and the oracle (exact count, flag literally 1) hash-checks
    * that the sketch actually works, not just that rows came back.
    * (rsd 0.01 measured ~5x slower for no extra oracle strength — the
    * flag's 5% tolerance is the contract, not the sketch width.) */
  def q40_approx_distinct(s: SparkSession, dir: String): DataFrame =
    // two-level aggregation instead of mixing countDistinct with the
    // sketch in one agg (which plans an Expand doubling the input rows):
    // dedup (flag, partkey) first, then count + sketch the distinct
    // rows. The HLL++ estimate is IDENTICAL — duplicate values map to
    // the same register, so the sketch over the deduped set equals the
    // sketch over the raw column — and the exact count is by definition
    lineitem(s, dir)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      // count(col), not count(lit(1)): a NULL partkey must not count as
      // a distinct value (the pre-rewrite countDistinct ignored NULLs,
      // and approx_count_distinct still does — identical NULL semantics
      // on both sides; TPC-H partkey is non-null, so same rows either way)
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
        count(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).cast("int").as("approx_ok"))
      .orderBy(col("l_returnflag"))

  /** Lowercased word-3-shingle sets (id, elems) — the shared feature space
    * for the exact-Jaccard ground truth of q41/q42/q66. Lowercasing up
    * front keeps the Spark and oracle shingle pipelines identical. */
  private def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
      array_distinct(TextFunctions.shingles(lower(col("text")), 3)).as("elems"))

  /** MinHash-LSH near-dup pairs, oracle-checkable form: the emitted rows
    * are the EXACT Jaccard >= 0.6 pairs (complete, via the prefix-filter
    * similarity join — [[Dedup.jaccardJoinExact]]), each carrying the
    * exact similarity plus `lsh_found` = whether MinHash-LSH banding
    * surfaced it. The oracle recomputes the exact pairs and pins
    * lsh_found = 1, so a hash match proves BOTH the exact join and LSH
    * recall. 32 bands × 2 rows: per-pair miss probability at j = 0.6 is
    * (1-0.6^2)^32 ≈ 6e-7 (the fixture's true pairs sit at j >= 0.85,
    * where it is ~1e-17). */
  def q41_minhash_pairs(s: SparkSession, dir: String): DataFrame = {
    graft.plans.MinHashSignature.register(s)
    val docs = documents(s, dir).select(col("doc_id"), lower(col("text")).as("text"))
    val exact = Dedup.jaccardJoinExact(shingleSets(docs), 0.6)
    val lsh = Dedup.minHashPairs(docs, "text", "doc_id",
      shingleK = 3, bands = 32, rowsPerBand = 2, threshold = 0.25, native = true)
    exact.join(lsh.select(col("id_a"), col("id_b"), lit(1).as("f")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        coalesce(col("f"), lit(0)).as("lsh_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup pairs, oracle-checkable form: exact Jaccard >= 0.8
    * pairs + `banding_complete` = (pair surfaced by SimHash banding) ⇔
    * (exact 64-bit Hamming distance <= 7). With 8 chunks of 8 bits the
    * banding is COMPLETE for Hamming <= 7 (pigeonhole: <= 7 flipped bits
    * leave >= 1 of 8 chunks intact), so the equivalence is a DETERMINISTIC
    * invariant the oracle pins to 1 — unlike "j >= 0.8 ⇒ small Hamming",
    * which is only probabilistic and can legitimately miss a pair. */
  def q42_simhash_pairs(s: SparkSession, dir: String): DataFrame = {
    graft.plans.SimHash.register(s)
    val docs = documents(s, dir)
    val exact = Dedup.jaccardJoinExact(shingleSets(docs), 0.8)
    val sim = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 7,
      native = true, chunks = 8)
    // per-doc exact signatures (HOF path — bit-identical to the native
    // kernel, PlansSpec) for the pairs' true Hamming distances. LEFT
    // joins: blank/whitespace-only docs have no signature (the banding
    // pipeline excludes them) yet two blanks form an exact pair (shingle
    // set [''], J = 1) — missing signatures then make both sides of the
    // equivalence 0, so the pair still emits banding_complete = 1 and
    // matches the oracle instead of silently dropping.
    val sigs = docs.where(trim(col("text")) =!= "")
      .select(col("doc_id"), Dedup.simHash(col("text")).as("sim"))
    exact
      .join(sigs.select(col("doc_id").as("id_a"), col("sim").as("sim_a")),
        Seq("id_a"), "left")
      .join(sigs.select(col("doc_id").as("id_b"), col("sim").as("sim_b")),
        Seq("id_b"), "left")
      .join(sim.select(col("id_a"), col("id_b"), lit(1).as("f")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        (coalesce(col("f"), lit(0)) ===
          when(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 7, 1)
            .otherwise(0)).cast("int").as("banding_complete"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** End-to-end near-dup dedup: exact Jaccard >= 0.5 pairs (complete
    * prefix-filter join) → connected components (min-label propagation) →
    * keep one canonical doc per cluster. Fully oracle-checkable: the
    * oracle recomputes the pairs and the transitive closure with a
    * recursive CTE and must land on the identical kept set. */
  def q66_neardup_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.jaccardJoinExact(shingleSets(docs), 0.5)
    Dedup.keepCanonical(docs, "doc_id", pairs)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Embedding near-dup, oracle-checkable form: the emitted rows are the
    * EXACT cosine >= 0.45 pairs (broadcast verification sweep — this query
    * is the recall harness for the LSH operator, so the exact side is
    * deliberate), plus `recall_ok` = LSH (32 hyperplane tables × 4 bits,
    * native kernel) recovered >= 70% of them. Aggregate flag rather than
    * per-pair: per-table miss at cosine 0.45 is ~0.82, so 32 tables give
    * ~2e-3 per-pair miss — the >= 0.7 aggregate bound fails only if 5+ of
    * ~14 pairs all miss (~1e-11). */
  def q43_embedding_neardup(s: SparkSession, dir: String): DataFrame = {
    graft.plans.HyperplaneSignature.register(s)
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    val cos = call_function(graft.plans.CosineSimilarity.name,
      col("va"), col("vb"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= 0.45)
    val lsh = Dedup.embeddingNearDup(e, "embedding", "vec_id",
      dim = 64, threshold = 0.45, nBits = 4, native = true, tables = 32)
    val flagged = exact.join(
        lsh.select(col("id_a"), col("id_b"), lit(1).as("f")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("cosine"), coalesce(col("f"), lit(0)).as("f"))
    val recall = flagged.agg(
      (sum(col("f")).cast("double") / count(lit(1)) >= 0.7).cast("int").as("recall_ok"))
    flagged.crossJoin(recall)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"),
        col("recall_ok"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup (semantic near-dup via embedding clusters), oracle-checkable
    * form: emit the complete EXACT cosine >= 0.45 pairs (DuckDB recomputes
    * them) with a `found` flag per pair — found = the cluster-bucketed
    * search compared the pair — and an aggregate `recall_ok` the oracle
    * pins to 1, so a hash match proves the k-means cells plus soft
    * 2-nearest assignment actually recover >= 70% of true pairs. */
  def q96_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    val cos = call_function(graft.plans.CosineSimilarity.name,
      col("va"), col("vb"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= 0.45)
    val sem = Dedup.semanticNearDup(e, "embedding", "vec_id",
      threshold = 0.45, nCentroids = 8, kmeansIters = 2, native = true)
    val flagged = exact.join(
        sem.select(col("id_a"), col("id_b"), lit(1).as("f")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("cosine"),
        coalesce(col("f"), lit(0)).as("f"))
    val recall = flagged.agg(
      (sum(col("f")).cast("double") / count(lit(1)) >= 0.7)
        .cast("int").as("recall_ok"))
    flagged.crossJoin(recall)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"),
        col("recall_ok"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** ANN top-k, oracle-checkable form: the emitted rows are the EXACT
    * brute-force top-10 per query (what q35 verifies), plus a per-query
    * `recall_ok` flag asserting LSH-bucketed ANN (16 tables × 4 bits,
    * 1 multi-probe) recovered >= 60% of them. The oracle recomputes the
    * exact top-k and pins the flag, so a hash match proves the ANN path
    * actually achieves its recall target on real data — the fixture's
    * neighbors sit at noise-level cosine (~0.3), which is exactly the
    * regime where OR-amplification is required. */
  def q44_lsh_topk(s: SparkSession, dir: String): DataFrame = {
    graft.plans.HyperplaneSignature.register(s)
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(e, q, "embedding", "vec_id",
      k = 10, native = true)
    val ann = Similarity.lshTopK(e, q, "embedding", "vec_id",
      k = 10, dim = 64, nBits = 4, native = true, multiProbe = 1, tables = 16)
    annRecallForm(exact, ann, target = 0.6)
  }

  /** IVF ANN top-k in the same oracle-checkable recall form as q44
    * (16-cell k-means codebook, 12 probed cells — the fixture's neighbors
    * sit at noise-level cosine ~0.3, so hitting the 0.6 recall target
    * with margin takes a wide probe; real clustered corpora probe far
    * fewer cells for the same recall). */
  def q45_ivf_topk(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", k = 10)
    val ann = Similarity.ivfTopK(s, e, q, "embedding", "vec_id",
      k = 10, nCentroids = 16, nProbe = 12, kmeansIters = 2)
    annRecallForm(exact, ann, target = 0.6)
  }

  /** Shared q44/q45 emission: exact top-k rows + per-query ANN recall
    * flag. */
  private def annRecallForm(exact: DataFrame, ann: DataFrame,
                            target: Double): DataFrame = {
    val hits = exact.select(col("query_id"), col("id"))
      .join(ann.select(col("query_id"), col("id"), lit(1).as("h")),
        Seq("query_id", "id"), "left")
      .groupBy(col("query_id"))
      .agg((sum(coalesce(col("h"), lit(0))).cast("double") / count(lit(1))
        >= target).cast("int").as("recall_ok"))
    exact.join(hits, "query_id")
      .select(col("query_id"), col("id").as("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"), col("recall_ok"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Rolling + winnowing document fingerprints: order-sensitive polynomial
    * hash over the normalized text's code points, and the minimum 8-char
    * window hash (winnowing). Both are exact integer arithmetic the oracle
    * recomputes character by character. */
  def q46_rolling_fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.rollingFingerprint(col("text")).as("rolling_fp"),
        TextFunctions.winnowFingerprint(col("text"), 8).as("winnow_fp"))
      .orderBy(col("doc_id"))

  /** Multimodal: REAL media payloads (PNG / WAV / PNG-frame container)
    * decoded with JDK codecs in a batched narrow map. Output columns are
    * exactly the ones the oracle can recompute from doc_id arithmetic —
    * width/height/n_frames only match if the decoder actually decodes
    * (the payload dimensions round-trip through encode → ImageIO/
    * AudioSystem decode). n_bytes/entropy are spec-checked against ground
    * truth in MultimodalSpec (not SQL-derivable for compressed formats). */
  def q47_multimodal_features(s: SparkSession, dir: String): DataFrame = {
    // synthesize the media table once per fixture: the operator under
    // measurement is the DECODE pipeline, not the PNG/WAV encoding that
    // manufactures the fixture
    val mdir = cachedDerivedDir(dir, "documents.parquet", "media") { out =>
      Multimodal.fromDocuments(documents(s, dir))
        .write.mode("overwrite").parquet(out)
    }
    import s.implicits._
    val media = s.read.parquet(mdir).as[graft.multimodal.MediaRecord]
    Multimodal.extractFeatures(media)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("n_frames"))
      .orderBy(col("media_id"))
  }

  /** Conditional / null-handling functions over the outer-join result
    * (real nulls from unmatched rows). */
  def q53_conditional_funcs(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).where(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(max(col("o_totalprice")).as("max_big"))
      .select(col("c_custkey"),
        coalesce(round(col("max_big"), 2), lit(-1.0)).as("best_or_default"),
        when(col("max_big").isNull, "none")
          .when(col("max_big") > 470000, "huge")
          .otherwise("big").as("tier"),
        col("max_big").isNull.cast("int").as("is_null"),
        round(nullif(coalesce(col("max_big"), lit(0.0)), lit(0.0)), 2).as("nullified"))
      .orderBy(col("c_custkey"))

  /** Extended datetime parts over events. */
  def q54_datetime_parts(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        dayofweek(col("ts")).as("dow"),
        dayofmonth(col("ts")).as("dom"),
        hour(col("ts")).as("hr"),
        minute(col("ts")).as("mi"),
        quarter(col("ts")).as("qtr"),
        weekofyear(col("ts")).as("woy"))
      .where(col("event_id") < 500)
      .orderBy(col("event_id"))

  /** Extended string functions over part. */
  def q55_string_extended(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        lpad(col("p_brand"), 12, "_").as("lp"),
        rpad(col("p_brand"), 12, ".").as("rp"),
        translate(col("p_type"), "aeiou", "AEIOU").as("tr"),
        reverse(col("p_brand")).as("rev"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
        instr(col("p_name"), "a").cast("int").as("first_a"),
        repeat(lit("ab"), 3).as("rep"),
        trim(lit("  x  ")).as("trimmed"))
      .orderBy(col("p_partkey"))

  /** Pivot: per-year order counts spread across status columns. Values are
    * enumerated, so no values-discovery job runs before the (standard
    * two-stage) pivot aggregation. */
  def q56_pivot(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .withColumn("o_year", year(col("o_orderdate")))
      .groupBy(col("o_year"))
      .pivot(col("o_orderstatus"), Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_year").cast("int").as("o_year"),
        coalesce(col("F"), lit(0L)).as("cnt_f"),
        coalesce(col("O"), lit(0L)).as("cnt_o"),
        coalesce(col("P"), lit(0L)).as("cnt_p"))
      .orderBy(col("o_year"))

  /** Unpivot (melt): wide per-flag aggregates back to long (metric, value)
    * form via Dataset.unpivot. */
  def q57_unpivot(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("qty"),
        dsum(col("l_extendedprice")).as("price"),
        dsum(col("l_discount"), 6, 4).as("disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")), "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))

  /** Statistical aggregates: stddev/variance/correlation/covariance.
    * Columns kept at small magnitude (quantity, discount) so the
    * streaming-moment accumulation agrees with DuckDB within rounding. */
  def q58_stats_agg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(stddev_pop(col("l_quantity")), 6).as("sdp_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(var_pop(col("l_discount")), 8).as("varp_disc"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"),
        round(covar_pop(col("l_quantity"), col("l_tax")), 6).as("covp_qty_tax"))
      .orderBy(col("l_returnflag"))

  /** Exact interpolated percentiles + median per group (single-pass sort
    * agg per group; at scale prefer `approx_percentile` — the sketch
    * form is exercised against the exact values in q176 — but the exact
    * form is the directly oracle-checkable one). */
  def q59_percentiles(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
        round(median(col("o_totalprice")), 4).as("med"))
      .orderBy(col("o_orderstatus"))

  /** Hive-style partitioned write + partition-pruned read: orders
    * partitioned by year, then a query that must touch only one
    * partition directory (PartitionFilters in the scan, zero rows read
    * from the other six years). The 100 TB analog of row-group zone
    * maps one level up. */
  def q60_partition_prune(s: SparkSession, dir: String): DataFrame = {
    val pdir = cachedDerivedDir(dir, "orders.parquet", "part-orders") { out =>
      orders(s, dir).withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite").parquet(out)
    }
    s.read.parquet(pdir)
      .where(col("o_year") === 1997)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** As-of (temporal) join: each view event matched to the user's most
    * recent at-or-before purchase. One shuffle union-sweep
    * ([[graft.operators.AsOfJoin]]); oracle is DuckDB's native ASOF JOIN —
    * independent implementations of the same semantics. */
  def q61_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val views = e.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOfJoin.backward(views, purchases,
        "user_id", "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), fmtS).as("view_ts"),
        date_format(col("asof_ts"), fmtS).as("purchase_ts"),
        round(col("asof_value"), 2).as("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Interval-containment join via the bucketed-grid equi-join
    * ([[graft.operators.RangeJoin]]) instead of Spark's broadcast nested
    * loop; oracle is the plain inequality join (DuckDB plans it as IEJoin). */
  def q62_range_join(s: SparkSession, dir: String): DataFrame = {
    val pts = customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
    val ivs = part(s, dir).select(col("p_partkey"),
      (col("p_retailprice") - col("p_size") * 3).as("lo"),
      (col("p_retailprice") + col("p_size") * 3).as("hi"))
    graft.operators.RangeJoin.bucketed(pts, ivs, "c_acctbal", "lo", "hi", 64.0)
      .select(col("c_custkey"), col("p_partkey"),
        round(col("c_acctbal"), 2).as("bal"))
      .orderBy(col("c_custkey"), col("p_partkey"))
  }

  /** Time-series gap fill with carry-forward — the composition a
    * feature-backfill pipeline runs. JOIN-FREE formulation: each observed
    * hour explodes its own gap span [hr, next_hr), so the carried value
    * rides the generating row instead of a window over the full grid.
    * One shuffle (the hourly aggregate) and one window pass over the
    * OBSERVED hours only; the previous grid⋈hourly form both joined and
    * recomputed the events aggregate twice (column pruning forks the
    * shared subtree into differently-pruned, non-reusable plans). */
  def q63_gapfill(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val hourly = e.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
      .agg(dsum(col("value")).as("v"), count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
    hourly
      .select(col("user_id"), col("hr"), col("n"),
        lead(col("hr"), 1).over(w).as("next_hr"),
        // carry computed over observed hours (ignoreNulls), so an
        // all-null-valued hour propagates its predecessor — identical to
        // the grid-window semantics
        last(col("v"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("carry"))
      .select(col("user_id"), col("hr"), col("n"), col("carry"),
        explode(sequence(col("hr"),
          coalesce(col("next_hr") - expr("INTERVAL 1 HOUR"), col("hr")),
          expr("INTERVAL 1 HOUR"))).as("ghr"))
      .select(col("user_id"), date_format(col("ghr"), fmtS).as("hour_start"),
        when(col("ghr") === col("hr"), col("n")).otherwise(lit(0L)).as("n_events"),
        col("carry").as("v_filled"))
      .orderBy(col("user_id"), col("hour_start"))
  }

  /** Distribution window functions: ntile / percent_rank / cume_dist /
    * first_value over a total per-status order — via the SCALE-SAFE
    * two-pass form ([[graft.operators.Skew.distributedDistribution]]):
    * `o_orderstatus` has 3 values, so a plain window is a 3-task funnel
    * at any cluster size; the bucketed form ranks within (status,
    * price-bucket) sub-partitions and adds broadcast prefix offsets,
    * with bit-identical results (property-asserted in SkewSpec, and the
    * oracle here hash-checks them against DuckDB's own window answers). */
  def q64_window_distribution(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Skew.distributedDistribution(
        orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
        key = "o_orderstatus", order = Seq("o_totalprice", "o_orderkey"),
        ntiles = 4, firstValueOf = Some("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("ntile").as("quartile"),
        round(col("percent_rank"), 6).as("pr"),
        round(col("cume_dist"), 6).as("cd"),
        col("first_value").as("cheapest_key"))
      .where(col("o_orderkey") < 500)
      .orderBy(col("o_orderkey"))
  }

  /** from_json → MapType + map functions (keys/element_at/contains/size).
    * The oracle computes the expected values from the raw JSON directly —
    * ground truth, not a mirrored implementation. */
  def q65_json_map(s: SparkSession, dir: String): DataFrame = {
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
    events(s, dir)
      .where(col("event_id") < 300)
      .select(col("event_id"),
        concat_ws(",", map_keys(m)).as("ks"),
        element_at(m, "k").as("kv"),
        map_contains_key(m, "k").cast("int").as("has_k"),
        element_at(m, "zz").as("missing"),
        size(m).as("n"))
      .orderBy(col("event_id"))
  }

  /** Conditional and arg-extremum aggregates: count_if, bool_and/bool_or,
    * max_by/min_by. The by-measure is made unique (price-cents scaled +
    * orderkey) so arg extremes are tie-free and deterministic in both
    * engines. Boolean aggregates are cast to int on both sides: raw
    * booleans serialize differently between Spark parquet and DuckDB in
    * the driver's hash step (cf. q53). The oracle additionally casts
    * count_if to BIGINT: DuckDB's count_if returns HUGEINT, which pandas
    * renders as float64 — value-equal to Spark's long but
    * representation-different under the driver's hash. */
  def q67_conditional_agg(s: SparkSession, dir: String): DataFrame = {
    // round before the long cast: Spark's double→long cast truncates while
    // DuckDB's rounds, so an un-rounded 12344.9999 would diverge
    val measure = round(col("o_totalprice") * 100).cast("long") * 10000000L +
      col("o_orderkey")
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count_if(col("o_totalprice") > 300000).as("n_big"),
        bool_and(col("o_totalprice") > 0).cast("int").as("all_pos"),
        bool_or(col("o_orderpriority") === "1-URGENT").cast("int").as("any_urgent"),
        max_by(col("o_orderkey"), measure).as("priciest_key"),
        min_by(col("o_orderkey"), measure).as("cheapest_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** End-to-end copy-on-write merge on a STRING (uuid) primary key — the
    * reference's canonical use case (README.md:26-43 keys on a uuid with
    * signed-lexicographic binary order, ParquetRewriter.java:35-37).
    * Builds a uuid-keyed sorted copy of documents, applies an
    * upsert+delete batch through [[graft.sources.MutableParquetTable]]
    * (string-key footer routing + run-sliced CoW rewrite + manifest
    * commit), and reads back the committed snapshot. The oracle recomputes
    * the merged state relationally. */
  def q68_uuid_merge(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(
      md5(col("doc_id").cast("string")).as("uuid"),
      col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val work = java.nio.file.Files.createTempDirectory("graft-q68").toString
    val base = s"$work/base"
    graft.sources.ParquetTable.writeSorted(docs, base, "uuid", 6)
    val upserts = docs.where(col("doc_id") % 10 === 0)
      .withColumn("lang", lit("xx"))
      .withColumn("op", lit("upsert"))
    val deletes = docs.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 3)
      .withColumn("op", lit("delete"))
    val t = graft.sources.MutableParquetTable(s, base, "uuid")
    val res = t.merge(upserts.unionByName(deletes), snapshotDir = Some(s"$work/v1"))
    require(graft.sources.MutableParquetTable.isCommitted(res.snapshotDir),
      "merge snapshot missing its manifest commit marker")
    // read back strictly through the manifest (the object-store read path)
    graft.sources.MutableParquetTable.readCommitted(s, res.snapshotDir)
      .select(col("uuid"), col("doc_id"), col("lang"))
      .orderBy(col("uuid"))
  }

  /** CoW merge on a DATE-keyed table: the daily order rollup keyed by
    * o_orderdate (unique after the rollup), upsert the month-start days,
    * delete the other February days, read back through the manifest.
    * Exercises the typed merge-key lane end to end: epoch-day zone maps
    * from parquet INT32 date stats, date-normalized routing, and
    * normalized run-slice bounds. */
  def q90_date_merge(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("o_orderdate"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val work = java.nio.file.Files.createTempDirectory("graft-q90").toString
    val base = s"$work/base"
    graft.sources.ParquetTable.writeSorted(daily, base, "o_orderdate", 6)
    val upserts = daily.where(dayofmonth(col("o_orderdate")) === 1)
      .withColumn("n_orders", lit(-1L))
      .withColumn("op", lit("upsert"))
    val deletes = daily
      .where(dayofmonth(col("o_orderdate")) =!= 1 && month(col("o_orderdate")) === 2)
      .withColumn("op", lit("delete"))
    // REFERENCE passthrough (the object-store mode): the merge performs
    // zero clean-file filesystem ops — the snapshot manifest points at
    // the base dir's untouched files — so this query also oracle-proves
    // reads through manifest references
    val t = graft.sources.MutableParquetTable(s, base, "o_orderdate",
      graft.sources.MutableParquetTable.Reference)
    val res = t.merge(upserts.unionByName(deletes), snapshotDir = Some(s"$work/v1"))
    require(graft.sources.MutableParquetTable.isCommitted(res.snapshotDir),
      "merge snapshot missing its manifest commit marker")
    require(res.filesCopied == 0 && res.filesHardLinked == 0,
      "reference passthrough must not copy or link")
    graft.sources.MutableParquetTable.readCommitted(s, res.snapshotDir)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("n_orders"), round(col("rev").cast("double"), 2).as("rev"))
      .orderBy(col("order_date"))
  }

  /** SQL DML surface: the same mutation set as q90 driven PURELY through
    * `spark.sql("MERGE INTO ...")` — conditional DELETE, UPDATE, and a
    * NOT-MATCHED INSERT — against a `USING graft` temp view, executed by
    * the injected post-hoc rule as one CoW merge commit
    * ([[graft.plans.GraftDmlRule]]). The oracle recomputes the identical
    * end state, so a hash match proves the SQL clause compilation
    * (first-match-wins residuals, matched/anti joins, assignment
    * projection) end to end. */
  def q92_sql_merge(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("o_orderdate"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val work = java.nio.file.Files.createTempDirectory("graft-q92").toString
    val root = s"$work/t"
    graft.GraftTable.create(daily, root, "o_orderdate", numFiles = 6)
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gq92 USING graft OPTIONS (path '$root')")
    val upd = daily.where(dayofmonth(col("o_orderdate")) === 1)
      .select(col("o_orderdate"), lit(-1L).as("n_orders"), col("rev"),
        lit("upd").as("action"))
    val del = daily
      .where(dayofmonth(col("o_orderdate")) =!= 1 && month(col("o_orderdate")) === 2)
      .select(col("o_orderdate"), col("n_orders"), col("rev"),
        lit("del").as("action"))
    val ins = s.range(1).select(
      to_date(lit("1990-01-01")).as("o_orderdate"), lit(-2L).as("n_orders"),
      lit(0).cast(DecimalType(18, 2)).as("rev"), lit("ins").as("action"))
    upd.unionByName(del).unionByName(ins).createOrReplaceTempView("src_q92")
    s.sql("""MERGE INTO gq92 t USING src_q92 s ON t.o_orderdate = s.o_orderdate
             WHEN MATCHED AND s.action = 'del' THEN DELETE
             WHEN MATCHED THEN UPDATE SET n_orders = s.n_orders
             WHEN NOT MATCHED THEN
               INSERT (o_orderdate, n_orders, rev) VALUES (s.o_orderdate, s.n_orders, s.rev)""")
    // fresh load: the temp view pins the snapshot it was created over
    s.read.format("graft").load(root)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("n_orders"), round(col("rev").cast("double"), 2).as("rev"))
      .orderBy(col("order_date"))
  }

  /** Catalog surface end to end, all BY NAME (no paths in the SQL):
    * CREATE TABLE through the graft [[graft.sources.GraftCatalog]],
    * INSERT INTO via the V2 batch write (one CoW version per statement),
    * UPDATE / DELETE through the SQL DML rule, and a VERSION AS OF
    * time-travel join emitting the pre-mutation value beside the current
    * one. The oracle recomputes both states from the fixture, so a hash
    * match proves the whole name-addressed lifecycle. */
  def q93_catalog_sql(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q93-wh").toString
    // catalogs are cached by name per session once used — a fresh name
    // per invocation keeps the warehouse binding correct across reruns
    val cat = "gq93_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q93_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.cust (c_custkey BIGINT, c_nationkey BIGINT)
              USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.cust
              SELECT CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT)
              FROM q93_cust_src""")
    s.sql(s"UPDATE $cat.ns.cust SET c_nationkey = -1 WHERE c_custkey % 100 = 0")
    s.sql(s"DELETE FROM $cat.ns.cust WHERE c_custkey % 97 = 0")
    s.sql(s"""SELECT cur.c_custkey, cur.c_nationkey AS nk_now,
                     old.c_nationkey AS nk_v0
              FROM $cat.ns.cust cur
              JOIN $cat.ns.cust VERSION AS OF 0 old
                ON cur.c_custkey = old.c_custkey
              ORDER BY cur.c_custkey""")
  }

  /** Composite (date, id) merge key through the CoW path: the table is
    * sorted by (o_orderdate, o_orderkey), FILE routing and zone maps use
    * the leading date alone, and row identity is the full tuple — upserts
    * replace one (date, key) row without touching its date-siblings,
    * deletes remove exactly one tuple. Oracle recomputes the end state
    * from the fixture. */
  def q94_composite_merge(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(to_date(col("o_orderdate")).as("o_orderdate"),
      col("o_orderkey"), col("o_custkey"))
    val work = java.nio.file.Files.createTempDirectory("graft-q94").toString
    val base = s"$work/base"
    graft.sources.ParquetTable.writeSortedBy(o, base,
      Seq("o_orderdate", "o_orderkey"), 6)
    // mutations clustered in ONE year so the dirty files stay a strict
    // subset of the date-ranged layout at every fixture scale
    val upserts = o.where(col("o_orderkey") % 50 === 0 &&
        year(col("o_orderdate")) === 1995)
      .withColumn("o_custkey", lit(-1L))
      .withColumn("op", lit("upsert"))
    // disjoint from the upsert set: the batch must be composite-unique
    val deletes = o.where(col("o_orderkey") % 97 === 0 &&
        col("o_orderkey") % 50 =!= 0 && year(col("o_orderdate")) === 1995)
      .withColumn("op", lit("delete"))
    val t = graft.sources.MutableParquetTable(s, base, "o_orderdate",
      moreKeys = Seq("o_orderkey"))
    val res = t.merge(upserts.unionByName(deletes), snapshotDir = Some(s"$work/v1"))
    require(res.passthroughFiles.nonEmpty,
      "composite merge must keep untouched-date files passed through")
    graft.sources.MutableParquetTable.readCommitted(s, res.snapshotDir)
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderkey"), col("o_custkey"))
      .orderBy(col("order_date"), col("o_orderkey"))
  }

  /** Table maintenance through SQL `CALL` ([[graft.sources.GraftProcedures]]):
    * mutate a catalog table with DML, then compact + z-order + vacuum it
    * purely via CALL statements, and read the final state back by name.
    * The maintenance commits MUST be invisible to query results (rows
    * unchanged, layout re-clustered, history truncated); `n_live_versions`
    * pins the retention arithmetic — insert, update, delete, compact,
    * zorder = 5 commits, vacuum keep_last=2 leaves base + 2. */
  def q97_maintenance_sql(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q97-wh").toString
    val cat = "gq97_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q97_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.m (c_custkey BIGINT, c_nationkey BIGINT)
              USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.m
              SELECT CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT)
              FROM q97_cust_src""")
    s.sql(s"UPDATE $cat.ns.m SET c_nationkey = -1 WHERE c_custkey % 100 = 0")
    s.sql(s"DELETE FROM $cat.ns.m WHERE c_custkey % 97 = 0")
    s.sql(s"CALL $cat.system.compact(table => 'ns.m', target_mb => 64)")
    s.sql(s"""CALL $cat.system.zorder(table => 'ns.m',
              dims => 'c_nationkey', target_files => 4)""")
    s.sql(s"CALL $cat.system.vacuum(table => 'ns.m', keep_last => 2)")
    val live = s.sql(s"CALL $cat.system.history(table => 'ns.m')")
      .agg(count(lit(1)).cast("long").as("n_live_versions"))
    s.sql(s"""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(c_custkey) AS BIGINT) AS ckey_sum
              FROM $cat.ns.m GROUP BY c_nationkey""")
      .crossJoin(live)
      .orderBy(col("c_nationkey"))
  }

  /** SQL DML on a Z-ORDERED table — the overlapped-layout merge path.
    * After `CALL zorder` every file's merge-key range spans the whole
    * domain, so owner-routing would mark the entire table dirty on any
    * mutation; the engine instead detects the overlap and routes by an
    * exact holder join (one key-column scan ⋈ batch keys). The UPDATE and
    * DELETE here run through that path and the oracle recomputes the
    * final state from the fixture — a hash match proves post-z-order
    * mutations are exact. */
  def q98_zorder_merge(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q98-wh").toString
    val cat = "gq98_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q98_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.z
              (c_custkey BIGINT, c_nationkey BIGINT, ck2 BIGINT)
              USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.z
              SELECT CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT),
                     CAST((c_custkey * 17) % 1000 AS BIGINT)
              FROM q98_cust_src""")
    s.sql(s"""CALL $cat.system.zorder(table => 'ns.z',
              dims => 'c_nationkey,ck2', target_files => 8)""")
    s.sql(s"UPDATE $cat.ns.z SET c_nationkey = -1 WHERE c_custkey % 50 = 0")
    s.sql(s"DELETE FROM $cat.ns.z WHERE c_custkey % 97 = 0")
    s.sql(s"""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(c_custkey) AS BIGINT) AS ckey_sum,
                     CAST(sum(ck2) AS BIGINT) AS ck2_sum
              FROM $cat.ns.z GROUP BY c_nationkey""")
      .orderBy(col("c_nationkey"))
  }

  /** The SQL table LIFECYCLE in one query: INSERT, metadata-only
    * `ALTER TABLE ADD COLUMNS`, UPDATE into the new column,
    * `TIMESTAMP AS OF` time travel (manifest commit-time resolution),
    * and `INSERT OVERWRITE` (an atomic whole-table replace committed as
    * the next version, prior versions intact). Three phases of the same
    * table — pre-alter (VERSION AS OF), pre-overwrite (TIMESTAMP AS OF),
    * current — each re-aggregated; the oracle recomputes all three from
    * the fixture, so a hash match proves every surface composes. */
  def q99_sql_lifecycle(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q99-wh").toString
    val cat = "gq99_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q99_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.lc (c_custkey BIGINT, c_acctbal_c BIGINT)
              USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.lc
              SELECT CAST(c_custkey AS BIGINT),
                     CAST(round(c_acctbal * 100) AS BIGINT)
              FROM q99_cust_src""")                            // v0
    s.sql(s"ALTER TABLE $cat.ns.lc ADD COLUMNS (seg2 STRING)") // v1, 0 IO
    s.sql(s"""UPDATE $cat.ns.lc SET seg2 = concat('s', c_custkey % 5)
              WHERE c_custkey % 3 = 0""")                      // v2
    Thread.sleep(20)
    val mid = System.currentTimeMillis()                       // between v2, v3
    Thread.sleep(20)
    s.sql(s"""INSERT OVERWRITE $cat.ns.lc
              SELECT c_custkey, c_acctbal_c * 2, seg2
              FROM $cat.ns.lc WHERE c_custkey % 2 = 0""")      // v3
    s.sql(s"""
      SELECT phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c_custkey) AS BIGINT) AS ckey_sum,
             CAST(sum(bal) AS BIGINT) AS bal_sum,
             CAST(count(seg2) AS BIGINT) AS seg2_n
      FROM (
        SELECT 'pre_alter' AS phase, c_custkey, c_acctbal_c AS bal,
               CAST(NULL AS STRING) AS seg2
        FROM $cat.ns.lc VERSION AS OF 0
        UNION ALL
        SELECT 'pre_overwrite', c_custkey, c_acctbal_c, seg2
        FROM $cat.ns.lc TIMESTAMP AS OF timestamp_millis(${mid}L)
        UNION ALL
        SELECT 'current', c_custkey, c_acctbal_c, seg2 FROM $cat.ns.lc
      ) GROUP BY phase""")
      .orderBy(col("phase"))
  }

  /** Incremental table REPLICATION ([[GraftTable.replicateTo]]): a
    * seeded replica kept in sync by applying the source's row-level
    * change feed — two syncs (upsert+delete batch, then a re-inserting
    * upsert batch), then a no-op sync proving the watermark holds.
    * Delta-priced end to end: the feed diffs snapshots reading only
    * unshared files, the apply is one merge priced by dirty files,
    * nothing rescans either table. The oracle recomputes the final
    * replica state relationally. */
  def q165_replication(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-q165").toString
    val df0 = customer(s, dir).select(
      col("c_custkey").cast("long").as("c_custkey"),
      col("c_name"),
      round(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val src = GraftTable.create(df0, s"$base/src", "c_custkey", numFiles = 4)
    val tgt = GraftTable.create(df0, s"$base/tgt", "c_custkey", numFiles = 4)
    val up = df0.where(col("c_custkey") % 10 === 0)
      .withColumn("bal_c", col("bal_c") * 2)
      .withColumn("op", lit("upsert"))
    src.commit(up, "op")
    val del = df0.where(col("c_custkey") % 7 === 0)
      .withColumn("op", lit("delete"))
    src.commit(del, "op")
    val sync1 = src.replicateTo(tgt)
    val up2 = df0.where(col("c_custkey") % 13 === 0)
      .withColumn("c_name", concat(col("c_name"), lit(" R2")))
      .withColumn("op", lit("upsert"))
    src.commit(up2, "op")
    val sync2 = src.replicateTo(tgt)
    val sync3 = src.replicateTo(tgt) // already current
    tgt.read()
      .select(col("c_custkey"), col("c_name"), col("bal_c"))
      .withColumn("synced",
        lit(if (sync1.isDefined && sync2.isDefined) 1 else 0))
      .withColumn("final_noop", lit(if (sync3.isEmpty) 1 else 0))
      .orderBy(col("c_custkey"))
  }

  /** SQL `DELETE` under BOTH execution strategies, oracle-pinned: a
    * key-range retention delete takes the metadata-priced zone path
    * ([[graft.sources.ZoneDelete]] — whole files dropped from the
    * manifest, at most one boundary file rewritten, the table never
    * scanned), then a data-column delete takes the batch CoW-merge path.
    * The two strategy flags are pinned to 1 by the oracle, so a hash
    * match proves the strategy choice, not just the final content. */
  def q100_zone_delete(s: SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    val work = java.nio.file.Files.createTempDirectory("graft-q100").toString
    val root = s"$work/t"
    graft.GraftTable.create(base, root, "o_orderkey", numFiles = 8)
    def view(): Unit = s.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW gq100 USING graft OPTIONS (path '$root')")
    view()
    s.sql("DELETE FROM gq100 WHERE o_orderkey < 300")
    val zoneUsed =
      if (graft.plans.GraftDmlRule.lastDeleteStrategy == "zone") 1 else 0
    view() // re-pin the view on the post-delete snapshot
    s.sql("DELETE FROM gq100 WHERE o_orderpriority = '1-URGENT'")
    val batchUsed =
      if (graft.plans.GraftDmlRule.lastDeleteStrategy == "batch") 1 else 0
    s.read.format("graft").load(root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("o_orderkey")).cast("long").as("okey_sum"))
      .withColumn("zone_used", lit(zoneUsed))
      .withColumn("batch_used", lit(batchUsed))
      .orderBy(col("o_orderstatus"))
  }

  /** SQL `UPDATE` under both strategies, oracle-pinned like q100: a
    * key-range update takes the zone path (proven-clean files pass
    * through, only intersecting files rewrite in place — no table
    * scan), a data-column update takes the batch CoW-merge path. */
  def q101_zone_update(s: SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), lit(null).cast("string").as("tag"))
    val work = java.nio.file.Files.createTempDirectory("graft-q101").toString
    val root = s"$work/t"
    graft.GraftTable.create(base, root, "o_orderkey", numFiles = 8)
    def view(): Unit = s.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW gq101 USING graft OPTIONS (path '$root')")
    view()
    s.sql("UPDATE gq101 SET tag = 'old' WHERE o_orderkey < 300")
    val zoneUsed =
      if (graft.plans.GraftDmlRule.lastUpdateStrategy == "zone") 1 else 0
    view()
    s.sql("UPDATE gq101 SET o_custkey = o_custkey + 1000000 " +
      "WHERE o_orderpriority = '5-LOW'")
    val batchUsed =
      if (graft.plans.GraftDmlRule.lastUpdateStrategy == "batch") 1 else 0
    s.read.format("graft").load(root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("o_custkey")).cast("long").as("ck_sum"),
        count(col("tag")).cast("long").as("old_n"))
      .withColumn("zone_used", lit(zoneUsed))
      .withColumn("batch_used", lit(batchUsed))
      .orderBy(col("o_orderstatus"))
  }

  /** EXACTLY-ONCE V2 streaming sink ([[graft.sources.GraftStreamingWrite]]):
    * a two-epoch mutation stream driven through
    * `writeStream.format("graft")` — epoch 0 upserts (+100.00 on every
    * 10th account) and deletes (every 7th-mod-3, upsert wins on overlap),
    * epoch 1 re-segments every 10th-mod-5 customer (resurrecting any
    * epoch-0 deletes among them). The oracle derives the exact final state
    * from raw customer, so staging, the per-epoch CoW merge, txn-marker
    * stamping, AND cross-epoch ordering must all compose to hash-match;
    * `exactly_once` pins one marker per epoch, one writer id, in order. */
  def q102_stream_sink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val ctx = s.sqlContext
    val work = java.nio.file.Files.createTempDirectory("graft-q102").toString
    val root = s"$work/t"
    val k = col("c_custkey")
    val base = customer(s, dir).select(k, col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    graft.GraftTable.create(base, root, "c_custkey", numFiles = 4)
    val e0 = base.where(k % 10 === 0 || k % 7 === 3)
      .select(k, col("c_mktsegment"),
        when(k % 10 === 0, col("bal_cents") + 10000)
          .otherwise(col("bal_cents")).as("bal_cents"),
        when(k % 10 === 0, lit("upsert")).otherwise(lit("delete")).as("op"))
      .as[(Long, String, Long, String)].collect().toSeq
    val e1 = base.where(k % 10 === 5)
      .select(k, lit("STREAMED"), col("bal_cents"), lit("upsert"))
      .as[(Long, String, Long, String)].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, String)]
    val q = in.toDF().toDF("c_custkey", "c_mktsegment", "bal_cents", "op")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$work/cp")
      .start(root)
    try {
      in.addData(e0: _*); q.processAllAvailable()
      in.addData(e1: _*); q.processAllAvailable()
    } finally q.stop()
    val vs = graft.streaming.CdcMergeSink.versions(root)
    val txns = vs.flatMap(v =>
      graft.sources.MutableParquetTable.manifestTxn(s"$root/v$v"))
    val exactlyOnce =
      if (vs.size == 2 && txns.map(_._2) == Seq(0L, 1L) &&
          txns.map(_._1).distinct.size == 1) 1 else 0
    s.read.format("graft").load(root)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        col("bal_cents"))
      .withColumn("exactly_once", lit(exactlyOnce))
      .orderBy(col("c_custkey"))
  }

  /** The q103 fixture: a versioned (doc_id, lang, tok) table with TWO
    * feed-persisted commits — v0 re-langs every 10th doc to 'xx' and
    * deletes every 7th-mod-3 (upsert wins on overlap), v1 bumps tok by
    * 1000 for every 9th-mod-1 SURVIVING doc. */
  private def cdfDocsTable(s: SparkSession, dir: String): String =
    cachedDerivedDir(dir, "documents.parquet", "cdf-docs-v1") { out =>
      val src = documents(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
      val t = graft.GraftTable.create(src, out, "doc_id", numFiles = 4)
      t.commitWithFeed(src
        .where(col("doc_id") % 10 === 0 || col("doc_id") % 7 === 3)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, lit("xx")).otherwise(col("lang"))
            .as("lang"),
          col("tok"),
          when(col("doc_id") % 10 === 0, lit("upsert")).otherwise(lit("delete"))
            .as("op")))
      t.commitWithFeed(t.read().where(col("doc_id") % 9 === 1)
        .select(col("doc_id"), col("lang"),
          (col("tok") + 1000).as("tok"), lit("upsert").as("op")))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_SUCCESS"))
    }

  /** Change-data feed as a DataSource V2 relation
    * ([[graft.sources.GraftChangeFeed]]): the persisted per-version row
    * diffs read back through `format("graft").option("changeFeed",
    * "true")` and flattened. The oracle derives both versions' exact
    * diffs from raw documents, so CoW routing, feed persistence, the
    * feed relation's schema/file planning, AND per-version attribution
    * (`_commit_version`) must all compose to hash-match. */
  def q103_cdf_source(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft").option("changeFeed", "true")
      .load(cdfDocsTable(s, dir))
      .select(col("doc_id"), col("change_type"),
        col("before.lang").as("before_lang"),
        col("after.lang").as("after_lang"),
        col("before.tok").as("before_tok"),
        col("after.tok").as("after_tok"),
        col("_commit_version").as("cv"))
      .orderBy(col("cv"), col("doc_id"))

  /** The `history` METADATA TABLE ([[graft.sources.GraftMetaTables]])
    * over the q103 fixture, by catalog name: per-version row totals are
    * derived independently by the oracle from raw documents, so the
    * manifest row accounting, the catalog's metadata-table resolution,
    * and the feed/txn flags must all agree. Integer flags, q100-style. */
  def q104_history_meta(s: SparkSession, dir: String): DataFrame = {
    val root = cdfDocsTable(s, dir)
    val parent = root.substring(0, root.lastIndexOf('/'))
    val tname = root.substring(root.lastIndexOf('/') + 1)
    val cat = "gq104_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", parent)
    s.sql(
      s"""SELECT version, total_rows,
            CAST(file_count > 0 AS INT) AS has_files,
            CAST(feed AS INT) AS feed,
            CAST(txn_app IS NULL AS INT) AS no_txn
          FROM $cat.`$tname`.history ORDER BY version""")
  }

  /** CoW merge on a NESTED merge-key path (`person.uuid`) — the
    * reference's ColumnPath key addressing (ParquetRewriter.java:84; the
    * README's Thrift `Person.uuid` model, README.md:26-43): the key lives
    * inside a struct column and drives parquet footer zone maps (nested
    * column paths are dotted), routing, run slicing, the merge join, and
    * the manifest round-trip. The oracle recomputes the merged state
    * relationally from the raw customer table. */
  def q105_nested_merge(s: SparkSession, dir: String): DataFrame = {
    val people = customer(s, dir).select(
      struct(
        md5(col("c_custkey").cast("string")).as("uuid"),
        struct(col("c_name").as("name"),
          col("c_mktsegment").as("segment")).as("profile")).as("person"),
      col("c_custkey"),
      col("c_acctbal").cast(DecimalType(12, 2)).as("bal"))
    val work = java.nio.file.Files.createTempDirectory("graft-q105").toString
    val base = s"$work/base"
    graft.sources.ParquetTable.writeSorted(people, base, "person.uuid", 6)
    // mutations clustered by uuid PREFIX: the table sorts on the hashed
    // uuid, so prefix ranges are contiguous in key space and the dirty
    // files stay a strict subset at every fixture scale (custkey-mod
    // batches would scatter across the whole md5 range)
    val upserts = people.where(col("person.uuid").startsWith("0"))
      .withColumn("bal", lit(-1).cast(DecimalType(12, 2)))
      .withColumn("op", lit("upsert"))
    val deletes = people.where(col("person.uuid").startsWith("f"))
      .withColumn("op", lit("delete"))
    val t = graft.sources.MutableParquetTable(s, base, "person.uuid")
    val res = t.merge(upserts.unionByName(deletes),
      snapshotDir = Some(s"$work/v1"))
    require(graft.sources.MutableParquetTable.isCommitted(res.snapshotDir),
      "merge snapshot missing its manifest commit marker")
    require(res.passthroughFiles.nonEmpty,
      "a nested-key merge must still be a partial rewrite")
    graft.sources.MutableParquetTable.readCommitted(s, res.snapshotDir)
      .select(col("person.uuid").as("uuid"),
        col("person.profile.segment").as("segment"),
        col("c_custkey"),
        round(col("bal").cast("double"), 2).as("bal"))
      .orderBy(col("uuid"))
  }

  /** HASH-BUCKETED graft tables (storage-partitioned-join layout,
    * [[graft.sources.GraftBucket]]): two catalog tables sharing a bucket
    * spec, a bucketed CoW merge in between, then a by-name key join.
    * The oracle recomputes the joined state from the raw tables, so a
    * hash match proves bucketed create + bucket-granularity merge +
    * manifest spec carry + catalog reads compose exactly. (The
    * exchange-elision plan property is asserted in GraftSourceSpec —
    * DuckDB can't check plans.) */
  def q106_bucketed_join(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-q106").toString
    val cat = "gq106_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", work)
    val spjConf = "spark.sql.sources.v2.bucketing.enabled"
    val prevSpj = s.conf.getOption(spjConf)
    val custs = customer(s, dir).select(col("c_custkey").as("custkey"),
      col("c_mktsegment").as("segment"), col("c_acctbal"))
    val ordAgg = orders(s, dir).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
      .withColumnRenamed("o_custkey", "custkey")
    val tc = graft.GraftTable.create(custs, s"$work/ns/c", "custkey",
      numFiles = 4, buckets = Some(8))
    graft.GraftTable.create(ordAgg, s"$work/ns/o", "custkey",
      numFiles = 4, buckets = Some(8))
    // per-bucket CoW merge: zero the balance of every 10th key
    tc.commit(custs.where(col("custkey") % 10 === 0)
      .withColumn("c_acctbal", lit(0.0))
      .withColumn("op", lit("upsert")))
    require(graft.sources.MutableParquetTable.manifestBuckets(
      graft.streaming.CdcMergeSink.latestSnapshot(s"$work/ns/c"))
      .contains(8), "merge must carry the bucket spec")
    // materialize under the SPJ conf, then restore it — the shared
    // Verify/Bench session must not keep a non-default planner conf
    // (the set sits INSIDE the try so a failing step can't leak it)
    try {
      s.conf.set(spjConf, "true")
      val joined = s.table(s"$cat.ns.c").join(s.table(s"$cat.ns.o"), "custkey")
        .select(col("custkey"), col("segment"),
          round(col("c_acctbal"), 2).as("bal"), col("n_orders"), col("total"))
        .orderBy(col("custkey"))
      val rows = joined.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
        .orderBy(col("custkey"))
    } finally prevSpj match {
      case Some(v) => s.conf.set(spjConf, v)
      case None    => s.conf.unset(spjConf)
    }
  }

  /** CTAS lifecycle: `CREATE TABLE ... AS SELECT` (atomic staged
    * publish, [[graft.sources.GraftStagedTable]]) → SQL MERGE → VERSION
    * AS OF time-travel join — the created-from-query table must be a
    * full graft table from its first instant. The oracle recomputes both
    * the merged and the v0 state from raw orders. */
  def q107_ctas_lifecycle(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-q107").toString
    val cat = "gq107_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", work)
    orders(s, dir).createOrReplaceTempView("q107_src")
    s.sql(
      s"""CREATE TABLE $cat.ns.daily USING graft
          TBLPROPERTIES ('key' = 'o_orderdate')
          AS SELECT to_date(o_orderdate) AS o_orderdate,
               count(*) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             FROM q107_src GROUP BY 1""")
    s.sql(
      s"""MERGE INTO $cat.ns.daily t
          USING (SELECT DISTINCT to_date(o_orderdate) AS dt FROM q107_src
                 WHERE day(to_date(o_orderdate)) = 1) s
          ON t.o_orderdate = s.dt
          WHEN MATCHED THEN UPDATE SET n_orders = -1""")
    s.sql(
      s"""SELECT date_format(t.o_orderdate, 'yyyy-MM-dd') AS order_date,
            t.n_orders AS n_now, t0.n_orders AS n_v0,
            round(CAST(t.rev AS DOUBLE), 2) AS rev
          FROM $cat.ns.daily t
          JOIN $cat.ns.daily VERSION AS OF 0 t0
            ON t.o_orderdate = t0.o_orderdate
          ORDER BY order_date""")
  }

  /** MERGE-ON-READ deletion tombstones ([[graft.GraftTable.deleteKeys]]):
    * a scattered key-delete commits as METADATA ONLY (every data file
    * passes through; only the delta-sized sidecar + manifest are
    * written — asserted), readers subtract it with a broadcast
    * anti-join through the V2 relation's injected rewrite, and a later
    * upsert RESURRECTS its keys. The oracle recomputes the final
    * logical state from raw documents. */
  def q108_tombstone_delete(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val work = java.nio.file.Files.createTempDirectory("graft-q108").toString
    val root = s"$work/t"
    val t = graft.GraftTable.create(docs, root, "doc_id", numFiles = 6)
    val (_, res) = t.deleteKeysResult(
      docs.where(col("doc_id") % 17 === 3).select(col("doc_id")))
    require(res.rewrittenFiles.isEmpty && res.insertedFileCount == 0,
      "a tombstone delete must be metadata-only")
    // resurrect a subset (doc_id % 34 == 3 ⊂ % 17 == 3) with a new lang
    t.commit(docs.where(col("doc_id") % 34 === 3)
      .withColumn("lang", lit("zz"))
      .withColumn("op", lit("upsert")))
    s.read.format("graft").load(root)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic training-order shuffle
    * ([[graft.operators.CorpusPrep.shuffleOrder]]): every document's
    * 0-based position in the seeded-hash permutation, computed as a
    * distributed prefix count (never a single-task global window —
    * plan-asserted in CorpusPrepSpec). The oracle derives the identical
    * permutation from the same md5 rule, so a hash match proves the
    * bucketed two-phase rank equals the global one exactly. */
  def q109_corpus_shuffle(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.shuffleOrder(
      documents(s, dir).select(col("doc_id")), "doc_id", seed = 42L)
      .select(col("doc_id"), col("shuffle_pos"))
      .orderBy(col("doc_id"))

  /** Weighted corpus mixture ([[graft.operators.CorpusPrep.mixture]]):
    * three pseudo-corpora (doc_id mod 3) blended at weights 1.0 / 0.5 /
    * 0.25 with the engine-portable md5-threshold rule; the oracle
    * replicates the rule string-for-string. */
  def q110_corpus_mixture(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("n_chars"))
    val srcs = Seq(
      ("a", docs.where(col("doc_id") % 3 === 0), 1.0),
      ("b", docs.where(col("doc_id") % 3 === 1), 0.5),
      ("c", docs.where(col("doc_id") % 3 === 2), 0.25))
    CorpusPrep.mixture(srcs, "doc_id", seed = 7L)
      .select(col("doc_id"), col("mix_source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** RESTORE / rollback ([[graft.GraftTable.restoreTo]]): base from
    * customer, two merge commits, a metadata-only restore undoing the
    * second, then a further merge ON TOP of the restore — the oracle
    * recomputes the surviving edit history relationally, so a hash match
    * proves the rollback manifest re-addressed every file reference
    * exactly and left the chain mergeable. The restore itself writes no
    * data files (asserted). */
  def q111_restore(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val work = java.nio.file.Files.createTempDirectory("graft-q111").toString
    val t = graft.GraftTable.create(c, s"$work/t", "c_custkey", numFiles = 6)
    t.commit(c.where(col("c_custkey") % 50 === 0)                      // v0
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
      .withColumn("op", lit("upsert")))
    t.commit(c.where(col("c_custkey") % 70 === 0)                      // v1
      .withColumn("op", lit("delete")))
    val v = t.restoreTo(0L)                                            // v2
    require(v == 2L, s"restore expected v2, got v$v")
    val restored = java.nio.file.Paths.get(s"$work/t/v2")
    val ls = java.nio.file.Files.list(restored)
    val local = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.count(_.toString.endsWith(".parquet"))
    } finally ls.close()
    require(local == 0, s"restore must be metadata-only, wrote $local files")
    t.commit(c.where(col("c_custkey") % 90 === 0)                      // v3
      .withColumn("c_name", lit("post-restore"))
      .withColumn("op", lit("upsert")))
    s.read.format("graft").load(s"$work/t")
      .select(col("c_custkey"), col("c_name").as("name"),
        round(col("c_acctbal"), 2).as("bal"))
      .orderBy(col("c_custkey"))
  }

  /** ORDER-BY-key LIMIT pushdown on the graft V2 scan
    * (`SupportsPushDownTopN`): the key-sorted layout + manifest row
    * counts make top-k a metadata question — the asc top-25 plans
    * exactly ONE of the table's 8 files (asserted), at any table size.
    * The oracle runs the same ORDER BY/LIMIT over the raw table. */
  def q112_topk_pushdown(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
    val work = java.nio.file.Files.createTempDirectory("graft-q112").toString
    graft.GraftTable.create(o, s"$work/t", "o_orderkey", numFiles = 8)
    val g = s.read.format("graft").load(s"$work/t")
    val topk = g.orderBy(col("o_orderkey")).limit(25)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"), col("o_orderstatus"))
    require(topk.collect().length == 25, "top-k probe")
    require(graft.sources.GraftSource.lastScanFiles.size == 1,
      s"top-25 must plan one file, planned " +
        s"${graft.sources.GraftSource.lastScanFiles.size}")
    topk
  }

  /** Product-quantization ANN ([[graft.operators.Similarity.pqTopK]]):
    * the corpus compressed to m=8 codes/vector (32× fewer scan bytes at
    * dim=64), queries ranked by asymmetric-distance lookup tables, top
    * candidates re-scored exactly. Oracle-checkable via the q44/q45
    * recall form: the emitted rows are the exact brute-force top-10 per
    * query (DuckDB recomputes them) plus a per-query `recall_ok` flag
    * pinned to 1, asserting the ADC-ranked, rerank-rescored PQ search
    * recovered >= 60% of the true neighbors — so a hash match proves the
    * codebook → packed-code scan → LUT ranking → exact rerank pipeline
    * actually achieves its recall target on real data. */
  def q114_pq_ann(s: SparkSession, dir: String): DataFrame = {
    val embs = embeddings(s, dir)
    graft.plans.PqAdcScore.register(s)
    val q = embs.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(embs, q, "embedding", "vec_id",
      k = 10, native = true)
    val ann = Similarity.pqTopK(s, embs, q,
      "embedding", "vec_id", k = 10, dim = 64, m = 8, ksub = 16,
      kmeansIters = 1, rerank = 100, native = true)
    annRecallForm(exact, ann, target = 0.6)
  }

  /** IVF-PQ ANN ([[Similarity.ivfPqTopK]]) in the shared q44/q45/q114
    * recall form: coarse cells restrict the compressed-code ADC scan to
    * the probed fraction of the corpus, exact rerank makes the scores
    * oracle-exact. The same cell structure as q45 (16 cells, 12 probed,
    * 2 Lloyd iterations — the fixture's neighbors sit at noise-level
    * cosine, so recall needs a wide probe) composed with q114's PQ
    * codes + rerank. */
  /** SQ8 scalar-quantized ANN ([[Similarity.sqTopK]]) in the shared
    * q44/q45/q114 recall form: per-vector symmetric int8 codes packed to
    * 1 byte/dim (4× fewer scan bytes than float32), scored by the fused
    * native kernel ([[graft.plans.Sq8Cosine]] — the scale cancels in
    * cosine so the bytes rank alone), exact rerank pins the scores.
    * SQ8 is the high-fidelity middle rung of the quantized-serving
    * ladder (float32 → SQ8 4× → PQ 32×): recall here clears the target
    * with a far smaller rerank than PQ needs. */
  def q128_sq_ann(s: SparkSession, dir: String): DataFrame = {
    val embs = embeddings(s, dir)
    graft.plans.Sq8Cosine.register(s)
    val q = embs.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(embs, q, "embedding", "vec_id",
      k = 10, native = true)
    val ann = Similarity.sqTopK(s, embs, q, "embedding", "vec_id",
      k = 10, rerank = 30, native = true)
    annRecallForm(exact, ann, target = 0.6)
  }

  def q124_ivfpq_ann(s: SparkSession, dir: String): DataFrame = {
    val embs = embeddings(s, dir)
    graft.plans.PqAdcScore.register(s)
    val q = embs.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(embs, q, "embedding", "vec_id",
      k = 10, native = true)
    val ann = Similarity.ivfPqTopK(s, embs, q, "embedding", "vec_id",
      k = 10, dim = 64, nCentroids = 16, nProbe = 12, m = 8, ksub = 16,
      kmeansIters = 2, rerank = 100, native = true)
    annRecallForm(exact, ann, target = 0.6)
  }

  /** Cross-document line dedup ([[graft.operators.CorpusPrep.dedupLines]],
    * the CCNet/C4 boilerplate-stripping family): a shared header is
    * injected into every 3rd document and a shared footer into every 4th,
    * then lines appearing in more than 2 distinct documents are dropped
    * corpus-wide. The oracle rebuilds the same corpus and dedup algebra
    * relationally — a hash match proves the explode → (fingerprint,line)
    * count → anti-join → ordered reassembly pipeline exact, including
    * the always-keep rule for sub-threshold structure lines. */
  def q113_line_dedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = documents(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0,
          lit("SHARED HEADER LINE\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0,
          lit("\nSHARED FOOTER LINE")).otherwise(lit(""))).as("text"))
    CorpusPrep.dedupLines(corpus, "text", "doc_id", maxDocs = 2)
      .orderBy(col("doc_id"))
  }

  /** Zero-copy SHALLOW CLONE ([[graft.GraftTable.cloneFrom]]): source
    * table from customer (one merge of history), cloned by reference
    * (zero data files staged — asserted), then mutated independently;
    * the oracle recomputes source-history + clone-only edits, so a hash
    * match proves the referencing base composes with routing, CoW, and
    * reads exactly — and the source-divergence asserts prove isolation. */
  def q115_clone(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val work = java.nio.file.Files.createTempDirectory("graft-q115").toString
    val src = graft.GraftTable.create(c, s"$work/src", "c_custkey", numFiles = 6)
    src.commit(c.where(col("c_custkey") % 40 === 0)                   // src v0
      .withColumn("c_acctbal", col("c_acctbal") + lit(50.0))
      .withColumn("op", lit("upsert")))
    val srcCount = src.read().count()

    val dst = graft.GraftTable.cloneFrom(s, s"$work/src", s"$work/dst")
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/dst/base"))
    val local = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.count(_.toString.endsWith(".parquet"))
    } finally ls.close()
    require(local == 0, s"clone must stage no data files, found $local")

    dst.commit(                                                       // dst v0
      c.where(col("c_custkey") % 60 === 0 && col("c_custkey") % 90 =!= 0)
        .withColumn("op", lit("delete"))
        .unionByName(c.where(col("c_custkey") % 90 === 0)
          .withColumn("c_name", lit("cloned"))
          .withColumn("op", lit("upsert"))))
    require(src.read().count() == srcCount,
      "a clone-side merge must not change the source")
    dst.read()
      .select(col("c_custkey"), col("c_name").as("name"),
        round(col("c_acctbal"), 2).as("bal"))
      .orderBy(col("c_custkey"))
  }

  /** CHECK-constraint lifecycle ([[graft.sources.GraftChecks]]): a
    * table created under a write contract refuses violating batches on
    * every path (merge, zone UPDATE), `addCheck` validates existing
    * rows once and commits METADATA-ONLY (required in-query), and
    * `dropCheck` lifts the contract so the previously refused update
    * lands. The oracle recomputes the surviving state relationally — a
    * hash match proves refused writes left no trace and accepted ones
    * composed exactly. */
  def q116_check_constraints(s: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-q116").toString
    val custs = customer(s, dir).select(col("c_custkey"),
      col("c_mktsegment").as("segment"),
      round(col("c_acctbal"), 2).as("bal"))
    // TPC-H acctbal ∈ [-999.99, 9999.99]: the seed satisfies the check
    val t = graft.GraftTable.create(custs, s"$work/t", "c_custkey",
      numFiles = 6, checks = Map("bal_floor" -> "bal > -1000.0"))
    // a violating upsert batch must refuse and commit nothing
    val refused =
      try { t.commit(custs.limit(1).withColumn("bal", lit(-5000.0))
              .withColumn("op", lit("upsert"))); false }
      catch { case _: graft.sources.GraftChecks.CheckViolation => true }
    require(refused && t.versions.isEmpty,
      "violating merge must refuse without committing")
    // valid merge: zero the balance of every 10th key (passes the floor)
    t.commit(custs.where(col("c_custkey") % 10 === 0)
      .withColumn("bal", lit(0.0)).withColumn("op", lit("upsert")))
    // ADD CONSTRAINT validates existing rows, then commits metadata-only
    val vAdd = t.addCheck("bal_cap", "bal <= 10000.0")
    val addDataFiles = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(s"$work/t/v$vAdd")
      val st = java.nio.file.Files.list(p)
      try st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally st.close()
    }
    require(addDataFiles == 0, "ADD CONSTRAINT must be metadata-only")
    // the cap refuses an over-limit zone UPDATE...
    val refusedUpd =
      try { t.updateWhere(col("c_custkey") % 100 === 0,
              "bal" -> lit(99999.0)); false }
      catch { case _: graft.sources.GraftChecks.CheckViolation => true }
    require(refusedUpd, "violating UPDATE must refuse")
    // ...until the contract is lifted
    t.dropCheck("bal_cap")
    t.updateWhere(col("c_custkey") % 100 === 0, "bal" -> lit(99999.0))
    t.read()
      .select(col("c_custkey"), col("segment"), col("bal"))
      .orderBy(col("c_custkey"))
  }

  /** INCREMENTAL near-dup dedup ([[Dedup.dedupIncremental]]): the old
    * corpus (docs with id % 3 ≠ 0) is sketched ONCE into a persisted
    * MinHash-LSH index (a graft table of (doc, band, bucket, signature)
    * rows); the new batch (id % 3 = 0) probes that index — old TEXTS are
    * never re-read — and extends it as the next index version. Output:
    * exact-Jaccard ≥ 0.6 pairs touching the new batch, each flagged
    * `incr_found` (the oracle pins the flag to 1: the incremental probe
    * must surface every true near-dup pair the batch introduces, same
    * recall-complete banding as q41). */
  def q117_incremental_dedup(s: SparkSession, dir: String): DataFrame = {
    graft.plans.MinHashSignature.register(s)
    val docs = documents(s, dir)
      .select(col("doc_id"), lower(col("text")).as("text"))
    val oldDocs = docs.where(col("doc_id") % 3 =!= 0)
    val newDocs = docs.where(col("doc_id") % 3 === 0)
    val work = java.nio.file.Files.createTempDirectory("graft-q117").toString
    val root = s"$work/idx"
    // the exact ground-truth harness is INDEPENDENT of the index
    // lifecycle — materialize it concurrently with the two ingests so
    // its jobs back-fill the cores the commit machinery leaves idle
    // (guide §2.6, bounded shared pool); same computation, same rows,
    // just overlapped
    import scala.concurrent.Future
    import graft.operators.Overlap
    import Overlap.ec
    val exactF = Future {
      Dedup.jaccardJoinExact(shingleSets(docs), 0.6)
        .where(col("id_a") % 3 === 0 || col("id_b") % 3 === 0)
        .transform(graft.operators.Materialize.ck)
    }
    // seed ingest (the corpus's own arrival), then the probed ingest;
    // the seed's pair stream is discarded, so skip computing it
    // (emitPairs = false — the committed index is identical)
    Dedup.dedupIncremental(root, oldDocs, "text", "doc_id",
      shingleK = 3, bands = 32, rowsPerBand = 2, threshold = 0.25,
      native = true, emitPairs = false)
    val inc = Dedup.dedupIncremental(root, newDocs, "text", "doc_id",
      shingleK = 3, bands = 32, rowsPerBand = 2, threshold = 0.25,
      native = true)
    require(inc.indexVersion == 0L,
      "the probe ingest must commit the next index version")
    val exact = Overlap.awaitAll(Seq(exactF)).head
    exact.join(inc.pairs.select(col("id_a"), col("id_b"), lit(1).as("f")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        coalesce(col("f"), lit(0)).as("incr_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** STREAMING incremental dedup ([[graft.streaming.Streams
    * .dedupIncrementalSink]]): documents arrive over three micro-batch
    * epochs; each epoch probes and extends the persisted LSH index, so
    * cross-epoch near-duplicates are caught the moment the later copy
    * arrives. The emitted pair stream, unioned across epochs, must
    * surface every exact-Jaccard ≥ 0.6 pair of the corpus — whether the
    * two docs arrived in the same epoch (new-vs-new) or epochs apart
    * (new-vs-index) — which the oracle pins via `stream_found` = 1 on
    * the exact pair set it recomputes relationally. */
  def q126_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    graft.plans.MinHashSignature.register(s)
    val docs = documents(s, dir)
      .select(col("doc_id"), lower(col("text")).as("text"))
    val work = java.nio.file.Files.createTempDirectory("graft-q126").toString
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = docs.as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = s"$work/pairs"
    // the exact ground-truth harness is INDEPENDENT of the stream —
    // materialize it concurrently with the three micro-batch epochs
    // (guide §2.6); same computation, same rows, just overlapped
    import scala.concurrent.Future
    import graft.operators.Overlap
    import Overlap.ec
    val exactF = Future {
      Dedup.jaccardJoinExact(shingleSets(docs), 0.6)
        .transform(graft.operators.Materialize.ck)
    }
    val q = graft.streaming.Streams.dedupIncrementalSink(
      in.toDF().toDF("doc_id", "text"), s"$work/idx", "text", "doc_id",
      s"$work/cp", shingleK = 3, bands = 32, rowsPerBand = 2,
      threshold = 0.25, native = true) { (pairs, epoch) =>
      pairs.withColumn("epoch", lit(epoch))
        .write.mode("append").parquet(out)
    }
    try (0 until 3).foreach { e =>
      in.addData(rows.filter(_._1 % 3 == e).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val found = s.read.parquet(out)
      .select(col("id_a"), col("id_b")).distinct()
    val exact = Overlap.awaitAll(Seq(exactF)).head
    exact.join(found.withColumn("f", lit(1)), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        coalesce(col("f"), lit(0)).as("stream_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Metadata-only `ALTER TABLE DROP COLUMN`: the drop version
    * references every data file in place under the NARROWED schema —
    * zero data IO at any table size; scans stop projecting the column
    * (parquet prunes it from old files for free) and later CoW rewrites
    * shed the bytes lazily. Two phases of the same table: `pre_drop`
    * (VERSION AS OF, the column's values aggregated — per-version
    * schema) and `current` (post-drop UPDATE through the narrowed
    * shape). The oracle recomputes both from the fixture, so a hash
    * match proves the drop changed projection, never data. */
  def q118_drop_column(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q118-wh").toString
    val cat = "gq118_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q118_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.dc (c_custkey BIGINT, bal BIGINT,
              seg STRING) USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.dc
              SELECT CAST(c_custkey AS BIGINT),
                     CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
              FROM q118_cust_src""")                       // v0
    s.sql(s"ALTER TABLE $cat.ns.dc DROP COLUMN seg")       // v1, 0 IO
    s.sql(s"""UPDATE $cat.ns.dc SET bal = bal + 7
              WHERE c_custkey % 10 = 0""")                 // v2, narrowed CoW
    s.sql(s"""
      SELECT phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bal) AS BIGINT) AS bal_sum,
             CAST(sum(seg_len) AS BIGINT) AS seg_len
      FROM (
        SELECT 'pre_drop' AS phase, bal, length(seg) AS seg_len
        FROM $cat.ns.dc VERSION AS OF 0
        UNION ALL
        SELECT 'current', bal, 0 FROM $cat.ns.dc
      ) GROUP BY phase""")
      .orderBy(col("phase"))
  }

  /** DROP COLUMN → purging compact → re-ADD, the full column-lifecycle
    * loop: the metadata-only drop leaves stale bytes in old files (and
    * blocklists the name against resurrection), `CALL system.compact`
    * detects the live blocklist and REWRITES through the logical schema
    * instead of byte-splicing — purging the stale values and clearing
    * the blocklist — after which re-ADDing the name is legal and sees
    * only fresh NULLs. The final aggregate counts non-null `seg` rows:
    * a hash match proves exactly the post-re-add writes are visible
    * (any resurrected pre-drop value would inflate `seg_n`/`seg_len`).
    * Scale: the purge costs one logical rewrite of the table — the same
    * price the reference pays to physically shed a column — and ONLY
    * when a blocklist is live; blocklist-free compacts stay zero-decode
    * splices. */
  def q120_compact_purge(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q120-wh").toString
    val cat = "gq120_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q120_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.pc (c_custkey BIGINT, bal BIGINT,
              seg STRING) USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.pc
              SELECT CAST(c_custkey AS BIGINT),
                     CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
              FROM q120_cust_src""")                        // v0
    s.sql(s"ALTER TABLE $cat.ns.pc DROP COLUMN seg")        // v1, 0 IO
    s.sql(s"CALL $cat.system.compact('ns.pc', 64)")         // v2, PURGE
    s.sql(s"ALTER TABLE $cat.ns.pc ADD COLUMNS (seg STRING)") // v3 — legal now
    s.sql(s"""UPDATE $cat.ns.pc SET seg = 'rx'
              WHERE c_custkey % 10 = 0""")                  // v4
    s.sql(s"""
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bal) AS BIGINT) AS bal_sum,
             CAST(count(seg) AS BIGINT) AS seg_n,
             CAST(coalesce(sum(length(seg)), 0) AS BIGINT) AS seg_len
      FROM $cat.ns.pc""")
  }

  /** Range-scoped compaction end to end, oracle-pinned: UPDATEs fragment
    * the low key range, `CALL system.compact_range` folds ONLY the files
    * intersecting it, and the pinned `scoped_ok` flag holds only if
    * (a) the fold strictly reduced the file count, (b) at least one
    * out-of-range file survived UNDER ITS OWN NAME (metadata
    * passthrough, not a rewrite), and (c) the new files carry the
    * range-compaction prefix. The final per-bucket aggregate proves the
    * mixed carried+spliced snapshot reads exactly. */
  def q125_compact_range(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q125-wh").toString
    val cat = "gq125_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val src = customer(s, dir)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
    src.createOrReplaceTempView("q125_cust_src")
    // Scala-side create pins an 8-file layout (the SQL first-load sizes
    // files for real data volumes — one file at fixture scale, which
    // would leave the scoped fold nothing to prove); the catalog
    // discovers the table by directory
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/ns"))
    graft.GraftTable.create(src, s"$wh/ns/cr", "c_custkey", numFiles = 8) // v0
    // two point UPDATEs fragment the low range (each a small CoW slice)
    s.sql(s"UPDATE $cat.ns.cr SET bal = bal + 7 WHERE c_custkey = 5")  // v1
    s.sql(s"UPDATE $cat.ns.cr SET bal = bal + 11 WHERE c_custkey = 40") // v2
    val maxKey = s.sql(s"SELECT max(c_custkey) FROM q125_cust_src")
      .head().getLong(0)
    val lo = 0L
    val hi = maxKey / 4                                        // low quarter
    val tdir = s"$wh/ns/cr"
    val beforeDir = graft.streaming.CdcMergeSink.latestSnapshot(tdir)
    val before = graft.sources.MutableParquetTable
      .manifestFileNames(beforeDir).map(_.toSet).getOrElse(Set.empty)
    s.sql(s"CALL $cat.system.compact_range('ns.cr', '$lo', '$hi', 1024)") // v3
    val afterDir = graft.streaming.CdcMergeSink.latestSnapshot(tdir)
    val after = graft.sources.MutableParquetTable
      .manifestFileNames(afterDir).map(_.toSet).getOrElse(Set.empty)
    val newOnes = after.diff(before)
    val scopedOk =
      if (after.size < before.size &&
          after.intersect(before).nonEmpty &&
          newOnes.nonEmpty &&
          newOnes.forall(_.split('/').last.startsWith("rc-"))) 1 else 0
    s.sql(s"""
      SELECT c_custkey % 8 AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bal) AS BIGINT) AS bal_sum,
             CAST($scopedOk AS INT) AS scoped_ok
      FROM $cat.ns.cr GROUP BY c_custkey % 8""").orderBy(col("bucket"))
  }

  /** `ALTER TABLE RENAME COLUMN` end to end, oracle-pinned: rename is a
    * METADATA-ONLY commit (data files keep the column's birth name; the
    * manifest maps logical→physical and scans alias at the file
    * boundary), after which UPDATE/DELETE run under the NEW name, and
    * time travel shows each version under the name it had when
    * committed. The `rename_ok` flag — pinned to 1 by the oracle — holds
    * only if the current schema carries the new name, VERSION AS OF 0
    * still carries the old one, the manifest mapping points new→birth,
    * and the `columnRenames` feature is stamped (pre-rename readers
    * refuse rather than silently show the old name). */
  def q121_rename_lifecycle(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q121-wh").toString
    val cat = "gq121_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q121_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.rn (c_custkey BIGINT, bal BIGINT,
              seg STRING) USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.rn
              SELECT CAST(c_custkey AS BIGINT),
                     CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment
              FROM q121_cust_src""")                            // v0
    s.sql(s"ALTER TABLE $cat.ns.rn RENAME COLUMN bal TO balance") // v1, 0 IO
    s.sql(s"""UPDATE $cat.ns.rn SET balance = balance * 2
              WHERE c_custkey % 3 = 0""")                       // v2, new name
    s.sql(s"DELETE FROM $cat.ns.rn WHERE seg = 'MACHINERY'")    // v3
    val latest = graft.streaming.CdcMergeSink.latestSnapshot(s"$wh/ns/rn")
    val nowFields = s.sql(s"SELECT * FROM $cat.ns.rn").schema.fieldNames.toSeq
    val v0Fields =
      s.sql(s"SELECT * FROM $cat.ns.rn VERSION AS OF 0").schema.fieldNames.toSeq
    val renameOk =
      if (nowFields.contains("balance") && !nowFields.contains("bal") &&
        v0Fields.contains("bal") &&
        graft.sources.MutableParquetTable.manifestRenames(latest) ==
          Map("balance" -> "bal") &&
        graft.sources.MutableParquetTable.manifestRequiredFeatures(latest)
          .contains("columnRenames")) 1 else 0
    s.sql(s"""
      SELECT phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS ckey_sum,
             CAST(sum(b) AS BIGINT) AS bal_sum,
             CAST($renameOk AS INT) AS rename_ok
      FROM (
        SELECT 'v0' AS phase, c_custkey AS k, bal AS b
        FROM $cat.ns.rn VERSION AS OF 0
        UNION ALL
        SELECT 'current', c_custkey, balance FROM $cat.ns.rn
      ) GROUP BY phase""").orderBy(col("phase"))
  }

  /** Bucket-count evolution end to end (`CALL system.rebucket`),
    * oracle-pinned: a bucketed table's count is fixed at CREATE — the
    * rebucket maintenance commit re-hashes the content to a new spec as
    * the next version (full rewrite by necessity: the bucket function
    * moves every row), after which DML routes by the new layout. The
    * pinned `spec_ok` flag holds only if the procedure reported the old
    * and new counts and the manifest declares the new spec with every
    * file carrying a valid bucket prefix. */
  def q122_rebucket(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q122-wh").toString
    val cat = "gq122_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    orders(s, dir).createOrReplaceTempView("q122_ord_src")
    s.sql(s"""CREATE TABLE $cat.ns.rb (o_orderkey BIGINT, price_c BIGINT,
              status STRING) USING graft
              TBLPROPERTIES ('key' = 'o_orderkey', 'buckets' = '2')""")
    s.sql(s"""INSERT INTO $cat.ns.rb
              SELECT CAST(o_orderkey AS BIGINT),
                     CAST(round(o_totalprice * 100) AS BIGINT),
                     o_orderstatus
              FROM q122_ord_src""")                            // v0
    val res = s.sql(s"CALL $cat.system.rebucket('ns.rb', 4)")
      .collect().head                                          // v1
    s.sql(s"""UPDATE $cat.ns.rb SET price_c = price_c * 2
              WHERE o_orderkey % 5 = 0""")                     // v2
    val latest = graft.streaming.CdcMergeSink.latestSnapshot(s"$wh/ns/rb")
    val specOk =
      if (res.getInt(1) == 2 && res.getInt(2) == 4 &&
        graft.sources.MutableParquetTable.manifestBuckets(latest)
          == Some(4) &&
        graft.sources.MutableParquetTable.manifestFileNames(latest).get
          .forall(f => graft.sources.GraftBucket
            .bucketOfName(f.split('/').last).exists(_ < 4))) 1 else 0
    s.sql(s"""
      SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(price_c) AS BIGINT) AS price_sum,
             CAST($specOk AS INT) AS spec_ok
      FROM $cat.ns.rb GROUP BY status""").orderBy(col("status"))
  }

  /** `ALTER COLUMN TYPE` widening end to end, oracle-pinned: the
    * manifest schema takes the wide type as a metadata-only commit,
    * narrow physical files upcast on read (Spark's parquet readers),
    * and a post-ALTER UPDATE writes a value beyond the old type's range
    * — so the final aggregate is only right if both the upcast reads
    * and the wide writes work over the mixed-physical snapshot. The
    * pinned `widen_ok` flag additionally requires the ALTER version to
    * own zero data files and time travel to show the narrow type. */
  def q123_widen_type(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q123-wh").toString
    val cat = "gq123_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q123_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.wd (c_custkey BIGINT, cnt INT,
              seg STRING) USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.wd
              SELECT CAST(c_custkey AS BIGINT),
                     CAST(c_custkey % 1000 AS INT), c_mktsegment
              FROM q123_cust_src""")                           // v0
    s.sql(s"ALTER TABLE $cat.ns.wd ALTER COLUMN cnt TYPE BIGINT") // v1, 0 IO
    s.sql(s"""UPDATE $cat.ns.wd SET cnt = cnt + 4000000000
              WHERE c_custkey % 7 = 0""")                      // v2: > int max
    val alterDir = s"$wh/ns/wd/v1"
    val alterOwns = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(alterDir))
      try st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally st.close()
    }
    val widenOk =
      if (s.sql(s"SELECT * FROM $cat.ns.wd").schema("cnt").dataType ==
            org.apache.spark.sql.types.LongType &&
          s.sql(s"SELECT * FROM $cat.ns.wd VERSION AS OF 0")
            .schema("cnt").dataType ==
            org.apache.spark.sql.types.IntegerType &&
          alterOwns == 0) 1 else 0
    s.sql(s"""
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS cnt_sum,
             CAST($widenOk AS INT) AS widen_ok
      FROM $cat.ns.wd GROUP BY seg""").orderBy(col("seg"))
  }

  /** DECIMAL widening through the same metadata-only ALTER COLUMN TYPE
    * surface as q123 ([[GraftTable.alterColumnType]]): DECIMAL(9,2) is
    * int32-physical on disk, the widened DECIMAL(22,4) request makes
    * Spark's parquet readers upcast AND rescale (×100) the narrow
    * physicals on read — so precision growth and scale growth are both
    * one manifest commit at any table size, and a value 13 digits past
    * the old range is immediately writable. The decimal values derive
    * from integers (k % 100000 + 0.25) so the oracle reproduces them
    * bit-exactly without double→decimal rounding ambiguity; sums emit
    * as strings (both engines render scale-4 decimals identically).
    * `widen_ok` pins: the ALTER version owns zero data files, the
    * current schema carries DECIMAL(22,4), time travel to v0 still
    * shows DECIMAL(9,2). */
  def q127_widen_decimal(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q127-wh").toString
    val cat = "gq127_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q127_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.wd (c_custkey BIGINT, bal DECIMAL(9,2),
              seg STRING) USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.wd
              SELECT c_custkey, CAST(c_custkey % 100000 + 0.25 AS DECIMAL(9,2)),
                     c_mktsegment
              FROM q127_cust_src""")                              // v0
    s.sql(s"ALTER TABLE $cat.ns.wd ALTER COLUMN bal TYPE DECIMAL(22,4)") // v1
    s.sql(s"""UPDATE $cat.ns.wd
              SET bal = bal + CAST('100000000000.1234' AS DECIMAL(22,4))
              WHERE c_custkey % 11 = 0""")                        // v2
    val alterDir = s"$wh/ns/wd/v1"
    val alterOwns = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(alterDir))
      try st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally st.close()
    }
    import org.apache.spark.sql.types._
    val widenOk =
      if (s.sql(s"SELECT * FROM $cat.ns.wd").schema("bal").dataType ==
            DecimalType(22, 4) &&
          s.sql(s"SELECT * FROM $cat.ns.wd VERSION AS OF 0")
            .schema("bal").dataType == DecimalType(9, 2) &&
          alterOwns == 0) 1 else 0
    s.sql(s"""
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(bal) AS DECIMAL(32,4)) AS STRING) AS bal_sum,
             CAST($widenOk AS INT) AS widen_ok
      FROM $cat.ns.wd GROUP BY seg""").orderBy(col("seg"))
  }

  /** Linear interpolation over the hourly grid
    * ([[AsOfJoin.interpolateGrid]]) — the companion of q63's LOCF gap
    * fill: missing hours between two observations take the linear blend
    * v0 + (v1−v0)·(g−t0)/(t1−t0); observed hours keep their own
    * (decimal-summed, so engine-exact) value; each user's grid spans
    * its observed range (no extrapolation). Same q63 plan discipline —
    * key-only shuffles, rows ∝ output grid. */
  def q133_interpolate(s: SparkSession, dir: String): DataFrame =
    graft.operators.AsOfJoin.interpolateGrid(
      events(s, dir), "user_id", "ts", dsum(col("value")))
      .select(col("user_id"),
        date_format(col("grid_ts"), fmtS).as("hour_start"),
        col("n_events"),
        // fixed-point micro-units: both engines compute bit-identical
        // doubles (same IEEE op order), but their round() semantics
        // differ on decimal-tie boundaries (exact-BigDecimal HALF_UP vs
        // float-math rounding) — floor of the scaled double is
        // deterministic on the shared bits
        floor(col("v_interp") * 1e6).cast("long").as("v_interp_micro"))
      .orderBy(col("user_id"), col("hour_start"))

  /** Image near-dup — the multimodal member of the dedup family
    * ([[Multimodal.imageNearDup]]): decode every image payload to the
    * 9×8 area-averaged luma raster (batched narrow map), fingerprint
    * with the codegen'd dHash kernel, and Hamming-band the 64-bit
    * hashes through the shared chunk machinery. The fixture plants a
    * RE-ENCODED copy of each image (valid PNG, pixel-identical,
    * different bytes — spliced tEXt chunk): byte-level dedup finds
    * nothing, the perceptual hash pairs every copy with its source at
    * distance exactly 0 — and no two distinct noise images pair at the
    * threshold, so the oracle (which recomputes the planted-pair list
    * from the documents table) checks recall AND precision. The pair
    * stage moves 16-byte fingerprints only; payloads never shuffle. */
  def q134_image_dedup(s: SparkSession, dir: String): DataFrame = {
    val mdir = cachedDerivedDir(dir, "documents.parquet", "media") { out =>
      Multimodal.fromDocuments(documents(s, dir))
        .write.mode("overwrite").parquet(out)
    }
    import s.implicits._
    val media = s.read.parquet(mdir).as[graft.multimodal.MediaRecord]
      .filter(m => m.kind == "image" && m.media_id < 90)
    val planted = Multimodal.reencodeImages(media, idOffset = 100000L)
    Multimodal.imageNearDup(media.union(planted), maxHamming = 2)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The WHOLE multimodal dedup matrix in one query: image, audio, and
    * video near-dup over one planted corpus — each modality's payloads
    * re-encoded byte-differently but content-identically (PNG tEXt
    * splice / WAV LIST chunk / per-frame re-encode), fingerprinted
    * through the shared 72-byte raster contract (image dHash, audio
    * energy-envelope dHash, video majority-of-frame-dHashes), and
    * paired by the one Hamming banding. A correct decode+hash pipeline
    * pairs EXACTLY source/copy at distance 0 per modality; any collapse
    * adds cross-noise pairs, any fault loses planted ones — recall and
    * precision, per modality, against the structural oracle. */
  def q136_multimodal_dedup(s: SparkSession, dir: String): DataFrame = {
    val mdir = cachedDerivedDir(dir, "documents.parquet", "media") { out =>
      Multimodal.fromDocuments(documents(s, dir))
        .write.mode("overwrite").parquet(out)
    }
    import s.implicits._
    // six references below (three kinds × base + planted-variant gen) —
    // materialize the filtered record table once; the column predicate
    // (vs the old typed-lambda filter) also keeps the scan prunable
    val media = graft.operators.Materialize.ck(
        s.read.parquet(mdir).where(col("media_id") < 90))
      .as[graft.multimodal.MediaRecord]
    def lane(kind: String,
             planted: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord],
             pairs: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord]
               => DataFrame): DataFrame =
      pairs(media.filter(_.kind == kind).union(planted))
        .select(lit(kind).as("kind"), col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
    lane("image", Multimodal.reencodeImages(media, 100000L),
        m => Multimodal.imageNearDup(m, maxHamming = 2))
      // audio at maxHamming 0: the fixture's clips are one sine family,
      // so neighbors are GENUINE envelope near-dups at distance 1-2 —
      // the planted-exactness oracle pins the distance-0 contract
      .unionByName(lane("audio", Multimodal.reencodeAudio(media, 100000L),
        m => Multimodal.audioNearDup(m, maxHamming = 0)))
      .unionByName(lane("video", Multimodal.reencodeVideo(media, 100000L),
        m => Multimodal.videoNearDup(m, maxHamming = 2)))
      .orderBy(col("kind"), col("id_a"), col("id_b"))
  }

  /** The round-8 TEXT-CLEANING stages composed END TO END (the q119
    * discipline for the reconstruction-heavy operators): inject shared
    * boilerplate lines AND shared word spans → [[CorpusPrep.dedupLines]]
    * strips the cross-document lines → [[CorpusPrep.removeDupSpans]]
    * splices the cross-document spans out of the line-cleaned TEXTS
    * (one operator's rebuilt output feeds the other's tokenizer) →
    * per-language aggregate of the surviving token mass. The oracle
    * chains both reconstructions relationally, so a hash match proves
    * the rebuilt-text contracts COMPOSE, not just hold in isolation. */
  def q139_clean_pipeline(s: SparkSession, dir: String): DataFrame = {
    val corpus = documents(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0,
          lit("SHARED HEADER LINE\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" alpha beta gamma delta epsilon zeta")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\nSHARED FOOTER LINE")).otherwise(lit(""))).as("text"))
    val lineClean = CorpusPrep.dedupLines(corpus, "text", "doc_id",
      maxDocs = 2)
    val spanClean = CorpusPrep.removeDupSpans(lineClean, "text", "doc_id",
      k = 5, minDocs = 2, keepFirst = true)
    spanClean
      .join(documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"),
        sum(col("n_removed")).as("total_removed"))
      .orderBy(col("lang"))
  }

  /** The C4 cleaning filter ([[CorpusPrep.c4Filter]], Raffel et al.
    * 2020) — the canonical line-rule + page-rule corpus gate next to
    * q132's Gopher rules: deterministic dirt (a no-punctuation short
    * line, a javascript line, a lorem-ipsum tail on every 7th doc)
    * injected identically by both engines; the oracle replays every
    * rule (terminal punctuation, word minimum, javascript contains,
    * page phrases, surviving-sentence minimum) and the reassembled kept
    * text hash-matches byte-exactly. */
  def q138_c4_filter(s: SparkSession, dir: String): DataFrame = {
    val corpus = documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit("\nclick here now\nfree javascript widgets available today."))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\nlorem ipsum dolor sit amet."))
          .otherwise(lit(""))).as("text"))
    CorpusPrep.c4Filter(corpus, "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL image dedup against a persisted fingerprint index
    * ([[Multimodal.imageDedupIncremental]] /
    * [[Dedup.hammingIncremental]]): ingest 1 seeds the index with every
    * original image's dHash; ingest 2 probes the RE-ENCODED copies
    * (different bytes, identical pixels) against it — each must collide
    * with its source AT DISTANCE 0 across the ingest boundary, decoding
    * only the new batch. The production shape: a daily image batch
    * pairs against a 100 TB corpus through 16-byte fingerprints, never
    * re-decoding stored pixels. */
  def q137_incremental_image_dedup(s: SparkSession, dir: String): DataFrame = {
    val mdir = cachedDerivedDir(dir, "documents.parquet", "media") { out =>
      Multimodal.fromDocuments(documents(s, dir))
        .write.mode("overwrite").parquet(out)
    }
    import s.implicits._
    val media = s.read.parquet(mdir).as[graft.multimodal.MediaRecord]
      .filter(m => m.kind == "image" && m.media_id < 90)
    val root = java.nio.file.Files
      .createTempDirectory("graft-q137").toString + "/idx"
    Multimodal.imageDedupIncremental(root, media, maxHamming = 2)
    val probe = Multimodal.imageDedupIncremental(root,
      Multimodal.reencodeImages(media, idOffset = 100000L), maxHamming = 2)
    probe.pairs
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact-substring duplicated-SPAN removal
    * ([[CorpusPrep.removeDupSpans]], Lee et al. 2022) — the step beyond
    * q95's dup-gram COUNTS and q113's whole-LINE strips: boilerplate
    * word spans (injected identically by both engines: a shared 6-word
    * prefix on every third doc, a shared 7-word suffix on every fourth)
    * are spliced OUT of every doc except the lowest-id holder
    * (keep-first), overlapping gram hits merging into one contiguous
    * removal. The oracle replays the whole posting → keep-first → span
    * union → reassembly pipeline relationally in DuckDB, so a hash
    * match proves the reconstructed TEXTS are byte-exact, not just the
    * removal counts. */
  def q135_span_dedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = documents(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0,
          lit("alpha beta gamma delta epsilon zeta ")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" one two three four five six seven")).otherwise(lit("")))
        .as("text"))
    CorpusPrep.removeDupSpans(corpus, "text", "doc_id",
      k = 5, minDocs = 2, keepFirst = true)
      .orderBy(col("doc_id"))
  }

  /** The Gopher document-quality gate ([[TextFunctions.gopherPass]] and
    * its seven per-rule signals): word-count bounds, mean word length,
    * symbol-to-word ratio, bullet/ellipsis line ratios, alphabetic-word
    * ratio, required-stopword hits. Every fourth doc gets deterministic
    * ASCII dirt (bullet lines, #tags, a trailing ellipsis) injected
    * identically by both engines, so the line- and symbol-rules are
    * exercised on the clean fixture, not constant-zero. Map-side only. */
  def q132_gopher_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val d = when(col("doc_id") % 4 === 0,
      concat(col("text"),
        lit("\n- bullet one\n- bullet two\n#x #y ok...")))
      .otherwise(col("text"))
    documents(s, dir)
      .select(col("doc_id"), d.as("__d"))
      .select(col("doc_id"),
        tokenCount(col("__d")).as("n_words"),
        round(meanWordLength(col("__d")), 6).as("mean_wl"),
        round(symbolWordRatio(col("__d")), 6).as("symbol_ratio"),
        round(bulletLineRatio(col("__d")), 6).as("bullet_ratio"),
        round(ellipsisLineRatio(col("__d")), 6).as("ellipsis_ratio"),
        round(alphaWordRatio(col("__d")), 6).as("alpha_ratio"),
        stopwordHits(col("__d")).as("stop_hits"),
        gopherPass(col("__d")).cast("int").as("gopher_pass"))
      .orderBy(col("doc_id"))
  }

  /** The LEARNED quality gate ([[TextFunctions.qualityLogit]]): a
    * fastText-style logistic scorer over hashed token uni+bigram
    * features with fixed-point integer weights — the trained-filter
    * stage public LLM-data pipelines run after the heuristic gates
    * (q132 Gopher, q138 C4). Every doc returns with its logit and pass
    * flag (the auditable-gate shape). Exact long arithmetic end to end,
    * so the oracle replays hashing, weights, and score bit-for-bit.
    * Scale shape: pure map over docs; the weight vector is one 8 KB
    * array literal shipped in the plan. */
  def q140_quality_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val w = derivedQualityWeights(1024)
    documents(s, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        qualityLogit(col("text"), w).as("logit"))
      .withColumn("q_pass", (col("logit") >= 0L).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** TOKEN-budgeted greedy chunking ([[CorpusPrep.chunkTokens]]):
    * context windows are budgeted in TOKENIZER tokens, not words — the
    * documented deterministic token rule
    * ([[graft.functions.TextFunctions.wordTokenCost]]: ceil(len/4) per
    * alpha run + 1 per digit/punct char) feeds the greedy word-boundary
    * packer. The oracle replays the rule and the greedy fold word by
    * word (recursive CTE) — chunk boundaries, costs, and texts must all
    * agree. Map-side only; rows ∝ chunks. */
  def q141_token_chunks(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.chunkTokens(documents(s, dir), "text", "doc_id",
        maxTokens = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** TOKEN-budgeted sequence packing ([[CorpusPrep.packTokens]]):
    * q77's concat-then-slice stream measured in estimated BPE tokens.
    * Same distributed prefix-sum shape (no single-task window); the
    * oracle recomputes the token estimate and the offsets by a window
    * sum. */
  def q142_token_pack(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.packTokens(documents(s, dir), "doc_id", "text",
        budget = 512)
      .select(col("doc_id"), col("est_tokens"), col("start_offset"),
        col("pack_first"), col("pack_last"))
      .orderBy(col("doc_id"))

  /** BM25 retrieval ([[CorpusPrep.bm25TopK]], Okapi defaults): rank the
    * corpus against a literal query — postings filtered to the query
    * terms BEFORE any shuffle, df/avgdl broadcast back, TakeOrdered
    * top-k. The oracle recomputes the whole scorer (tf, df, length
    * normalization, the Lucene IDF form) relationally. */
  def q147_bm25_search(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.bm25TopK(documents(s, dir), "text", "doc_id",
      query = Seq("data", "merge", "window"), k = 15)

  /** HYBRID sparse+dense retrieval ([[CorpusPrep.hybridTopK]]):
    * BM25 lexical candidates and exact-cosine dense candidates fused
    * with reciprocal-rank fusion ([[CorpusPrep.rrfFuse]], Cormack et
    * al. 2009) — the standard RAG retrieval merge. Rank-based fusion,
    * so the incomparable raw scores never mix; 50 candidates drawn per
    * retriever, top-20 fused. The oracle recomputes BOTH retrievers
    * (the q147 BM25 scorer, the q35 cosine ranking) and the fused
    * 1/(60+rank) sums. Fusion sees only 2·nCand rows no matter the
    * corpus size. */
  def q148_hybrid_rrf(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    CorpusPrep.hybridTopK(documents(s, dir), "text", "doc_id",
        e, "embedding", "vec_id",
        terms = Seq("data", "merge", "window"),
        queryVec = e.where(col("vec_id") === 7),
        k = 20, nCand = 50, native = true)
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** Per-group QUANTILE pruning ([[CorpusPrep.quantilePrune]]): keep
    * the top half of each language by the LEARNED quality logit (q140's
    * exact fixed-point scorer) — the "filter to the best X% per slice"
    * stage quality pipelines run after scoring. Every doc returns with
    * its kept flag (auditable gate). The keep rule is exactly
    * row_number over (logit desc, doc_id) <= ceil(n_lang / 2), which
    * the oracle replays — but the ENGINE never sorts the corpus per
    * group: counts over distinct scores + a window over the distinct-
    * score table + an id-ranked straddling tie block only. */
  def q149_quantile_prune(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val w = derivedQualityWeights(1024)
    val scored = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        qualityLogit(col("text"), w).as("logit"))
    CorpusPrep.quantilePrune(scored, "lang", "logit", "doc_id",
        keepFrac = 0.5, ascending = false)
      .select(col("doc_id"), col("lang"), col("logit"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** MMR diversified rerank ([[Similarity.mmrRerank]], Carbonell &
    * Goldstein 1998): the post-retrieval diversification step — from
    * the exact-cosine top-15 for one query, greedily select 5
    * maximizing `0.5·rel − 0.5·max-sim-to-selected`. lambda = 0.5 keeps
    * `1 − lambda` exactly representable so both engines score
    * identically; ties break on the smaller id at every step. The
    * greedy is driver-side over the METADATA-SIZED candidate list (the
    * corpus-scale work happened in the retriever); the oracle unrolls
    * all five selection stages relationally. */
  def q151_mmr_rerank(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    val cands = Similarity.bruteForceTopK(e, e.where(col("vec_id") === 7),
        "embedding", "vec_id", 15, native = true)
      .join(e.select(col("vec_id").as("id"), col("embedding")), "id")
    Similarity.mmrRerank(s, cands, "id", "cosine", "embedding",
        k = 5, lambda = 0.5)
      .select(col("id").as("vec_id"), round(col("cosine"), 6).as("rel"),
        round(col("mmr"), 6).as("mmr"), col("mmr_rank"))
      .orderBy(col("mmr_rank"))
  }

  /** Johnson–Lindenstrauss random projection
    * ([[graft.functions.VectorFunctions.randomProject]], Achlioptas ±1
    * signs): 64-dim embeddings compressed to 8 dims — the cheap
    * first-stage compression before SQ8/PQ. The sign matrix derives from
    * an engine-portable integer hash (no overflow wrap), the sum is a
    * sequential left fold, and the output compares as floor-micros, so
    * the oracle replays every bit. Pure map over rows. */
  def q152_random_projection(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions
          .randomProject(col("embedding"), 8)))
      .select(col("vec_id"), col("pos").cast("int").as("dim_idx"),
        floor(col("col") * lit(1000000.0)).cast("long").as("proj_micros"))
      .orderBy(col("vec_id"), col("dim_idx"))

  /** Vocabulary coverage ([[CorpusPrep.vocabulary]] +
    * [[CorpusPrep.oovStats]]): the top-20 exact-frequency vocabulary
    * (deterministic boundary: count desc, term asc) and each document's
    * out-of-vocabulary rate against it — the tokenizer-coverage signal.
    * topV = 20 sits BELOW the fixture's distinct-token count so the OOV
    * rates are real, not constant zero. Every doc returns (empty docs
    * report 0/0). One term-count shuffle + a broadcast vocab join + one
    * doc-keyed agg. */
  def q153_vocab_oov(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    CorpusPrep.oovStats(docs, "text", "doc_id",
        CorpusPrep.vocabulary(docs, "text", topV = 20))
      .orderBy(col("doc_id"))
  }

  /** Cross-source OVERLAP matrix ([[CorpusPrep.sourceOverlap]]):
    * pairwise 5-shingle Jaccard between the language slices — the
    * "are these two slices really one corpus" signal read before
    * weighting a mixture. The pair join keys on the gram with at most
    * |groups| rows per key; the matrix assembly is groups²-sized. */
  def q154_source_overlap(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.sourceOverlap(documents(s, dir), "text", "lang", k = 5)
      .orderBy(col("source_a"), col("source_b"))

  /** LEAKAGE-safe split ([[CorpusPrep.leakageSafeSplit]]): deterministic
    * 90/10 train/test assignment by the portable md5 threshold rule,
    * then every train doc whose normalized fingerprint also appears in
    * test is flagged — the doc an honest eval must drop from train.
    * The fixture corpus is duplicate-free, so docs with id % 17 == 0
    * are planted onto three shared texts (identically in the oracle) —
    * duplicate groups big enough that the hash split strands copies on
    * both sides and the leak flag does real work. Split is a pure map;
    * leak detection shuffles fingerprints only. */
  def q155_leakage_split(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 17 === 0,
      concat(lit("shared corpus page "),
        (col("doc_id") % 3).cast("string")))
      .otherwise(col("text"))
    CorpusPrep.leakageSafeSplit(
        documents(s, dir).select(col("doc_id"), planted.as("text")),
        "text", "doc_id", testFrac = 0.1, seed = 7L)
      .orderBy(col("doc_id"))
  }

  /** Per-dimension embedding STATS ([[Similarity.dimStats]]): the
    * QA/normalization report before training quantizers. Fixed-point
    * floor-micros BEFORE aggregation, so min/max/sum are exact longs in
    * any aggregation order — no double-sum order sensitivity, no
    * decimal-from-double casts. One explode + one dim-keyed agg. */
  def q156_dim_stats(s: SparkSession, dir: String): DataFrame =
    Similarity.dimStats(embeddings(s, dir), "embedding")
      .orderBy(col("dim_idx"))

  /** Unit-L2 NORMALIZATION
    * ([[graft.functions.VectorFunctions.l2Normalize]]): cosine becomes a
    * dot product downstream. The norm binds once (single-element
    * transform trick — interpreted HOFs re-evaluate free references per
    * element); the oracle replays the fold, the sqrt, and each division,
    * compared as floor-micros. Pure map over rows. */
  def q157_l2_normalize(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .where(col("vec_id") < 100)
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions
          .l2Normalize(col("embedding"))))
      .select(col("vec_id"), col("pos").cast("int").as("dim_idx"),
        floor(col("col") * lit(1000000.0)).cast("long").as("unit_micros"))
      .orderBy(col("vec_id"), col("dim_idx"))

  /** FILTERED vector search: exact cosine top-k restricted to a
    * metadata predicate (label stripe) — the filter lands in the corpus
    * SCAN (pushed to parquet), so the search prices by the filtered
    * stripe, and the ranking is top-k AMONG matches (not post-filtered
    * top-k, which under-fills). Composes with the IVF/PQ paths the same
    * way — the predicate rides the index scan. */
  def q158_filtered_ann(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    Similarity.bruteForceTopK(e.where(col("label") % 3 === 0),
        e.where(col("vec_id") < 3), "embedding", "vec_id", 10,
        native = true)
      .select(col("query_id"), col("id").as("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** EXACT-k deterministic sampling per group
    * ([[CorpusPrep.sampleExactK]] over [[CorpusPrep.topKPerGroup]], the
    * generalized quantile-prune machinery): keep exactly
    * min(k, n_group) rows per language by the portable md5 hash —
    * replayable membership, uniform in the hash, every row returns with
    * its kept flag. */
  def q159_exact_sample(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.sampleExactK(documents(s, dir)
        .select(col("doc_id"), col("lang")), "lang", "doc_id",
        k = 20, seed = 11L)
      .orderBy(col("doc_id"))

  /** LATE-INTERACTION retrieval ([[Similarity.lateInteractionTopK]],
    * ColBERT MaxSim): the 64-dim embeddings reshaped into 8 sub-vectors
    * per side, pair score = sum over query slices of the best-matching
    * doc slice. The outer sum is a sequential fold, the inner max exact
    * in any order, so the oracle replays the score relationally (max
    * per slice pair, ordered list fold). */
  def q160_late_interaction(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    Similarity.lateInteractionTopK(e, e.where(col("vec_id") < 3),
        "embedding", "vec_id", m = 8, dim = 64, k = 10)
      .select(col("query_id"), col("id").as("vec_id"),
        round(col("cosine"), 6).as("maxsim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Strict-order conversion FUNNEL ([[EventAnalytics.funnel]]):
    * view → click → purchase, each later step the first matching event
    * after the previous step and within 24 h of entering the funnel.
    * Every user returns with per-step timestamps + steps_completed.
    * Per-step filtered scans (predicate pushed down) + user-keyed
    * mins/joins — never an event-log-wide sort. */
  def q161_funnel(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.funnel(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .select(col("user_id"),
        date_format(col("step_1_ts"), "yyyy-MM-dd HH:mm:ss").as("t1"),
        date_format(col("step_2_ts"), "yyyy-MM-dd HH:mm:ss").as("t2"),
        date_format(col("step_3_ts"), "yyyy-MM-dd HH:mm:ss").as("t3"),
        col("steps_completed"))
      .orderBy(col("user_id"))

  /** COHORT retention ([[EventAnalytics.retentionCohorts]]): users by
    * first-active day, counted on each later active day — the classic
    * retention triangle; day-0 equals cohort size. One (user, day)
    * distinct + user-keyed min + (cohort, offset) count. */
  def q162_retention(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.retentionCohorts(events(s, dir), "user_id", "ts")
      .select(date_format(col("cohort_date"), "yyyy-MM-dd")
          .as("cohort_date"),
        col("day_offset"), col("active_users"))
      .orderBy(col("cohort_date"), col("day_offset"))

  /** HEAVY HITTERS ([[graft.functions.Udx.HeavyHittersAggregator]],
    * Misra–Gries): the mergeable bounded frequency summary — map-side
    * partial aggregation carries at most `capacity` entries per
    * partition instead of an exact (term, count) shuffle. With capacity
    * ≥ distinct terms the counts are EXACT (no decrement fires), which
    * is what the oracle replays; the spec proves the bounded-budget
    * guarantees on crafted skew. */
  def q163_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val hh = Udx.heavyHitters(1024)
    documents(s, dir)
      .select(explode(tokens(lower(col("text")))).as("__t"))
      .agg(hh(col("__t")).as("__hh"))
      .select(posexplode(col("__hh")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("term"), col("col.cnt").as("term_count"))
      .where(col("rank") <= 30)
      .orderBy(col("rank"))
  }

  /** Event-type TRANSITION matrix
    * ([[EventAnalytics.transitionMatrix]]): consecutive-pair counts per
    * user timeline + per-source transition probabilities (floor-micros)
    * — the Markov journey view. The only per-event sort is the
    * user-partitioned lead window; the matrix itself is |types|². */
  def q164_transitions(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.transitionMatrix(events(s, dir), "user_id",
        "event_type", "ts")
      .orderBy(col("from_type"), col("to_type"))

  /** k-NN CLASSIFICATION ([[Similarity.knnClassify]]): 50 queries
    * labeled by majority vote among their 10 nearest neighbors — the
    * embedding-quality probe. Votes and the per-query argmax run over
    * k-sized rows; retrieval is the proven brute-force kernel. */
  def q166_knn_classify(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    Similarity.knnClassify(e, "embedding", "vec_id", "label",
        e.where(col("vec_id") < 50), k = 10, native = true)
      .orderBy(col("query_id"))
  }

  /** Label-pair cosine DIAGNOSTICS ([[Similarity.labelPairCosines]]):
    * mean pairwise cosine within vs across labels, each pair's cosine
    * fixed-pointed BEFORE summation so every aggregate is exact in any
    * order. The all-pairs form is the exact eval diagnostic (sampled at
    * scale; LSH/IVF are the production neighbor paths). */
  def q167_label_cosines(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    Similarity.labelPairCosines(embeddings(s, dir), "embedding",
        "vec_id", "label", native = true)
      .orderBy(col("label_a"), col("label_b"))
  }

  /** PMI co-occurrence pairs ([[CorpusPrep.pmiPairs]]): top collocations
    * by pointwise mutual information over document co-occurrence,
    * restricted to the broadcast top-30 vocabulary, pairs in >= 5 docs.
    * Integer-exact ratio before the ln (the q88 discipline). */
  def q170_pmi_pairs(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.pmiPairs(documents(s, dir), "text", "doc_id",
      topVocab = 30, minPairCount = 5, k = 40)

  /** Funnel TIME-TO-CONVERT percentiles
    * ([[EventAnalytics.durationPercentiles]]): exact nearest-rank
    * p50/p90/p100 over the q161 funnel's completed conversions —
    * long-exact rank arithmetic, the ranking window sized by
    * conversions, never the event log. */
  def q171_funnel_durations(s: SparkSession, dir: String): DataFrame = {
    val conv = EventAnalytics.funnel(events(s, dir), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
      .where(col("steps_completed") === 3)
      .select((unix_micros(col("step_3_ts")) -
        unix_micros(col("step_1_ts"))).as("dur"))
    EventAnalytics.durationPercentiles(conv, "dur", Seq(50, 90, 100))
      .orderBy(col("pct"))
  }

  /** Label-centroid OUTLIERS ([[Similarity.labelCentroidOutliers]]):
    * exact fixed-point per-label centroids (no order-sensitive float
    * accumulation), every vector scored by cosine against its own
    * label's centroid and flagged below 0.3 — the mislabeled/corrupt
    * embedding sweep. One (label, dim) aggregate + a broadcast map. */
  def q172_centroid_outliers(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidOutliers(embeddings(s, dir), "embedding",
        "vec_id", "label", minCos = 0.3)
      .orderBy(col("vec_id"))

  /** Unicode SCRIPT histogram per language
    * ([[graft.functions.TextFunctions.scriptClass]]): codepoint-class
    * counts + per-lang shares — the script-detection check against the
    * lang labels (a "zh" slice that is all Latin script is mislabeled
    * or mojibake — exactly what this fixture shows). One codepoint
    * explode (corpus-char-sized by necessity) + a |langs|·|scripts|
    * aggregate; shares normalize over that tiny table. */
  def q173_script_histogram(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    documents(s, dir)
      .select(col("lang"), explode(codepoints(col("text"))).as("__cp"))
      .select(col("lang"), scriptClass(col("__cp")).as("script"))
      .groupBy(col("lang"), col("script"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_micros",
        floor(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang")))
          * lit(1000000.0)).cast("long"))
      .orderBy(col("lang"), col("script"))
  }

  /** Fixture documents for the BPE lanes: multi-merge English, digits,
    * punctuation, apostrophes, unseen characters, and empty/whitespace
    * edge docs — the synthetic corpus alone is a 31-word vocabulary, so
    * these exercise the encoder paths it can't (the q144/q153 planted-
    * fixture discipline; the oracle unions the same rows). */
  private def bpeFixtureDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (-1L, "the quick table merges running 12345 (parens) end-to-end"),
      (-2L, "don't scan? z#9 Xylophone counting corpus streamsort"),
      (-3L, ""),
      (-4L, "   ")).toDF("doc_id", "text")
  }

  /** EXACT BPE token counts ([[graft.plans.BpeTokenCount]] over the
    * committed merges table, `src/main/resources/graft/bpe_merges.tsv`)
    * next to the documented estimate rule — the real-tokenizer upgrade
    * of every token-denominated operator. The oracle replays the WHOLE
    * tokenizer relationally: the same merges as a VALUES table (spliced
    * from the same resource by [[OracleSql]]) and the documented
    * min-rank-first / leftmost-occurrence encode loop as a recursive
    * CTE over the DISTINCT pretokens (one leftmost string-replace per
    * step), then per-doc sums — token counts must hash-match exactly.
    * Scale shape: the Spark side is ONE codegen'd map-side kernel with
    * a per-executor word cache; nothing shuffles. */
  def q174_bpe_tokens(s: SparkSession, dir: String): DataFrame = {
    graft.plans.BpeExpressions.register(s)
    import graft.functions.TextFunctions._
    documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(bpeFixtureDocs(s))
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_words"),
        tokenEstimate(col("text")).as("est_tokens"),
        call_function("graft_bpe_count", col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** TOKEN-budgeted chunking under the EXACT tokenizer — q141's greedy
    * word-boundary packer with `tokenizer = "bpe"`
    * ([[CorpusPrep.chunkTokens]]): budgets measured in true
    * committed-merges BPE tokens instead of the estimate. The oracle
    * composes its two replayable halves: per-word exact costs from the
    * q174 recursive encode CTE, then q141's greedy fold CTE over those
    * costs — boundaries, costs, and chunk texts must all agree. Same
    * map-side shape as q141; only the cost lambda changed (the
    * documented switch contract). */
  def q175_bpe_chunks(s: SparkSession, dir: String): DataFrame = {
    graft.plans.BpeExpressions.register(s)
    CorpusPrep.chunkTokens(
        documents(s, dir).select(col("doc_id"), col("text"))
          .unionByName(bpeFixtureDocs(s)),
        "text", "doc_id", maxTokens = 16, tokenizer = "bpe")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Fixture documents for the BYTE-level BPE lane: contractions,
    * glued punctuation, prices, whitespace runs (tab/newline), and
    * multi-byte UTF-8 (latin-1 accents, a 3-byte euro sign, a 4-byte
    * emoji — byte fallback across every UTF-8 width). Non-ASCII is
    * authored as \\uXXXX escapes here and as chr() codepoints in the
    * oracle, so both engines hold identical bytes. */
  private def bpeByteFixtureDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (-1L, "don't scan? It's $19.99 -- really?!"),
      (-2L, "caf\u00e9 r\u00e9sum\u00e9 \u20ac100 at 25\u00b0C"),
      (-3L, "line1\nline2\ttab  two spaces"),
      (-4L, "\ud83d\ude00\ud83d\ude00 emoji"),
      (-5L, ""),
      (-6L, "   ")).toDF("doc_id", "text")
  }

  /** BYTE-LEVEL BPE token counts ([[graft.plans.BpeByteTokenCount]]
    * over `src/main/resources/graft/bpe_byte_merges.tsv`) — the
    * GPT-2-class tokenizer shape: a real regex pretokenizer
    * (contraction/letter/digit/punctuation/whitespace splits,
    * [[graft.functions.BpeByte.PretokenRegex]], RE2-safe by
    * construction), the byte↔unicode alphabet, and the standard
    * encoder. The oracle replays ALL THREE stages relationally:
    * `regexp_extract_all` with the identical pattern, the 256-row
    * byte-map VALUES table over `hex(encode(tok))` pairs, and the
    * q174 recursive min-rank/leftmost encode CTE over the byte-space
    * merges — pretoken counts and token counts must hash-match
    * exactly. Unlike q174's whitespace pretokens, "scan?" here splits
    * into `scan|?` and whitespace runs cost tokens (real byte-level
    * behavior). Same 100-TB shape as q174: one codegen'd map-side
    * kernel, nothing shuffles. */
  def q210_bpe_byte(s: SparkSession, dir: String): DataFrame = {
    graft.plans.BpeByteExpressions.register(s)
    documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(bpeByteFixtureDocs(s))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit(graft.functions.BpeByte.PretokenRegex), lit(0)))
          .cast("long").as("n_pretokens"),
        call_function("graft_bpe_byte_count", col("text"))
          .as("bpe_byte_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Sketch percentiles next to the exact form: q59's exact
    * interpolated quartiles per order status PLUS a `sketch_ok` flag
    * proving `approx_percentile` (the at-scale form — one mergeable
    * KLL-style sketch pass, no per-group sort) lands within rank-ε of
    * the truth (the q40 approx-vs-exact discipline). The flag is
    * computed from the sketch's PERCENT RANK, not its value: for each
    * quantile q, the share of rows ≤ the sketch's answer must sit
    * within ±0.02 of q — accuracy 10000 bounds rank error at n/10000
    * (< 1 row here), so the flag pins to 1 and an engine-independent
    * oracle can assert it without reproducing the sketch. */
  def q176_approx_percentile(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val agg = o.groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
        expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 10000)")
          .as("__apx"),
        count(lit(1)).as("__n"))
    o.select(col("o_orderstatus"), col("o_totalprice"))
      .join(broadcast(agg), Seq("o_orderstatus"))
      .groupBy(col("o_orderstatus"), col("p25"), col("p50"), col("p75"),
        col("__n"))
      .agg(
        sum((col("o_totalprice") <= element_at(col("__apx"), 1))
          .cast("long")).as("__le25"),
        sum((col("o_totalprice") <= element_at(col("__apx"), 2))
          .cast("long")).as("__le50"),
        sum((col("o_totalprice") <= element_at(col("__apx"), 3))
          .cast("long")).as("__le75"))
      .select(col("o_orderstatus"), col("p25"), col("p50"), col("p75"),
        (abs(col("__le25").cast("double") / col("__n") - 0.25) <= 0.02 &&
          abs(col("__le50").cast("double") / col("__n") - 0.5) <= 0.02 &&
          abs(col("__le75").cast("double") / col("__n") - 0.75) <= 0.02)
          .cast("int").as("sketch_ok"))
      .orderBy(col("o_orderstatus"))
  }

  /** HTML → TEXT extraction ([[graft.functions.TextFunctions
    * .htmlToText]]) — the step BEFORE every shipped text gate in real
    * pipelines (C4/CCNet extract first; the gates run on extracted
    * text). The corpus text is deterministically wrapped into HTML —
    * head with style+script, a heading, an entity-laden paragraph, a
    * comment, the body text in a div — IDENTICALLY in both engines
    * (the q86/q144 planted-fixture discipline), then extracted: tags
    * stripped, scripts/styles/comments dropped whole, entities
    * decoded, blocks segmented and whitespace-collapsed. The oracle
    * replays every regexp/replace rule verbatim (RE2 ≡ Java for these
    * patterns) and the downstream token count composes the extractor
    * into the budget pipeline. Pure map-side. */
  def q177_html_extract(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val html = concat(
      lit("<html><head><title>T</title><style>p{color:red}</style>"),
      lit("<script type=\"text/javascript\">var x = 1 < 2;</script></head>"),
      lit("<body><h1>Doc "), col("doc_id").cast("string"), lit("</h1>"),
      lit("<!-- hidden --><p>A &amp; B &lt;tag&gt; &quot;q&quot; "),
      lit("&#39;s&#39;&nbsp;end</p><div>"), col("text"),
      lit("</div><P CLASS=\"x\">tail<br/>line</P></body></html>"))
    documents(s, dir)
      .select(col("doc_id"), htmlToText(html).as("text_clean"))
      .select(col("doc_id"),
        htmlBlockCount(col("text_clean")).as("n_blocks"),
        tokenEstimate(col("text_clean")).as("est_tokens"),
        col("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** URL canonicalization + exact URL dedup
    * ([[graft.functions.TextFunctions.canonicalUrl]]): lowercase
    * scheme/host, strip fragment and default port, sort query params,
    * normalize the path's trailing slash — then exact dedup on the
    * canonical form (public pipelines dedup fetched pages by canonical
    * URL before any content dedup). Variants are planted
    * deterministically per doc — case-mangled host, fragment,
    * reordered params, :443 — in BOTH engines; every group of five
    * variants must collapse to ONE canonical URL. Pure string rules →
    * one codegen'd map + one hash-groupBy (the [[Dedup.exact]]
    * shape). */
  def q178_url_dedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    // 20 logical pages; the variant a doc fetches cycles INDEPENDENTLY
    // of its page (doc_id/20 vs doc_id%20), so every page collects a
    // mix of all five spellings
    val page = (col("doc_id") % 20).cast("long")
    val vIdx = (floor(col("doc_id") / lit(20.0)).cast("long") % 5 + 1)
      .cast("int")
    val host = element_at(array(Seq("en.wikipedia.org", "github.com",
      "data.example.com", "blog.example.net", "arxiv.org").map(lit): _*),
      (page % 5 + 1).cast("int"))
    val variant = element_at(array(
      concat(lit("https://"), host, lit("/doc/"), page, lit("?b=2&a=1")),
      concat(lit("HTTPS://"), upper(host), lit("/doc/"), page,
        lit("?a=1&b=2#frag")),
      concat(lit("https://"), host, lit(":443/doc/"), page,
        lit("?b=2&a=1")),
      concat(lit("https://"), host, lit("/doc/"), page, lit("/?a=1&b=2")),
      concat(lit("https://"), host, lit("/doc/"), page, lit("#x"))), vIdx)
    // variants 1-4 all canonicalize to …/doc/<page>?a=1&b=2; variant 5
    // (fragment only, no query) to the bare …/doc/<page> — so each page
    // must collapse 5 spellings into exactly TWO canonical forms
    documents(s, dir)
      .select(col("doc_id"), variant.as("url"))
      .select(col("doc_id"), canonicalUrl(col("url")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_variants"),
        min(col("doc_id")).as("keeper_doc"))
      .orderBy(col("canonical_url"))
  }

  /** ANN recall@k as a first-class REPORT ([[Similarity.recallAtK]]):
    * per-query and mean recall of an approximate retrieval against the
    * exact truth, in floor-micros. The measured approximation is
    * dimension truncation — top-10 by cosine over the first 8 of 64
    * dims vs the full-vector truth — because BOTH sides are exact
    * brute-force rankings an external engine replays verbatim (the
    * q35 discipline); the same operator pointed at the LSH/IVF/PQ
    * results powers the spec-level recall assertions. Summary row
    * rides with query_id = −1. Join volume is (queries × k) —
    * metadata-sized at any corpus scale. */
  def q179_recall_at_k(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(e, q, "embedding", "vec_id", 10,
      native = true)
    val trunc8 = (d: DataFrame) =>
      d.select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
    val ann = Similarity.bruteForceTopK(trunc8(e), trunc8(q), "embedding",
      "vec_id", 10, native = true)
    Similarity.recallAtK(ann, truth, "query_id", "id", k = 10)
      .orderBy(col("query_id"))
  }

  /** Deterministically SENTENCIFY the synthetic corpus (which carries
    * no sentence punctuation): every 7th word gains a terminal mark
    * cycling . ! ? by sentence ordinal, and the doc gains a final '.'
    * unless its last word was already marked. A pure word-array rule
    * the oracle replays verbatim (the q144/q153 planted-fixture
    * discipline) so the sentence lanes (q180/q183) exercise real
    * boundaries. */
  private def sentencify(text: Column): Column = {
    import graft.functions.TextFunctions.tokens
    val ws = tokens(text)
    val marked = zip_with(ws, sequence(lit(1), size(ws)), (w, i) =>
      when(i % 7 === 0,
        concat(w, element_at(array(lit("."), lit("!"), lit("?")),
          (pmod(floor(i / lit(7)) - 1, lit(3)) + 1).cast("int"))))
        .otherwise(w))
    val joined = concat_ws(" ", marked)
    when(size(ws) === 0, lit(""))
      .otherwise(when(size(ws) % 7 === 0, joined)
        .otherwise(concat(joined, lit("."))))
  }

  /** Fixture docs for the sentence lanes: genuine multi-mark text,
    * punctuation-free text (one sentence), trailing marks, double
    * spaces after marks, and empty/blank edges — planted identically in
    * the oracle. */
  private def sentenceFixtureDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (-1L, "One. Two sentences here! A third?  And a fourth without end"),
      (-2L, "No terminal punctuation at all"),
      (-3L, "Trailing punct."),
      (-4L, ""),
      (-5L, "   "),
      (-6L, "Multi.  Space!   After? Punct. ")).toDF("doc_id", "text")
  }

  /** Rule-based SENTENCE segmentation ([[graft.functions.TextFunctions
    * .sentencesOf]]) over the sentencified corpus + edge fixtures:
    * per-doc sentence count, summed/max per-sentence word counts, and
    * the mean sentence length in floor-micros (integer `div` — the
    * fixed-point discipline). One codegen'd map over the scan; nothing
    * shuffles. The oracle replays the marker-replace/split/trim rule
    * and the arithmetic exactly. */
  def q180_sentence_split(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val d = documents(s, dir)
      .select(col("doc_id"), sentencify(col("text")).as("text"))
      .unionByName(sentenceFixtureDocs(s))
    d.select(col("doc_id"),
        element_at(transform(array(sentencesOf(col("text"))), ss =>
          struct(
            size(ss).cast("long").as("ns"),
            aggregate(transform(ss,
                x => size(split(x, "\\s+")).cast("long")),
              lit(0L), (a, c) => a + c).as("nw"),
            coalesce(array_max(transform(ss,
              x => size(split(x, "\\s+")).cast("long"))), lit(0L)).as("mx")
          )), 1).as("__st"))
      .select(col("doc_id"),
        col("__st.ns").as("n_sentences"),
        col("__st.nw").as("n_words"),
        col("__st.mx").as("max_sentence_words"))
      .withColumn("avg_sentence_words_micros",
        expr("CAST(CASE WHEN n_sentences > 0 THEN " +
          "(n_words * 1000000L) DIV n_sentences ELSE 0L END AS BIGINT)"))
      .orderBy(col("doc_id"))
  }

  /** First/last-touch ATTRIBUTION ([[EventAnalytics.attribution]]):
    * every purchase attributed to its earliest and latest in-window
    * touch (view/click/signup within 12 h), with the touch count;
    * conversions with no touch keep their row (n_touches = 0). Both
    * sides type-filter at the scan before the one user-keyed shuffle;
    * tie-breaks are deterministic (ts, then type) so the oracle's
    * window replay matches exactly. */
  def q181_attribution(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.attribution(events(s, dir), "user_id", "event_type",
        "ts", conversionType = "purchase",
        touchTypes = Seq("click", "signup", "view"), lookback = "12 hours")
      .select(col("user_id"),
        date_format(col("conv_ts"), "yyyy-MM-dd HH:mm:ss").as("conv_ts"),
        col("first_touch"),
        date_format(col("first_touch_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("first_touch_ts"),
        col("last_touch"),
        date_format(col("last_touch_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("last_touch_ts"),
        col("n_touches"))
      .orderBy(col("user_id"), col("conv_ts"))

  /** BLOOM-FILTER membership ([[Dedup.bloomMembership]] over
    * [[graft.functions.Udx.bloomBits]]): the even-doc fingerprint set
    * summarized into one 1<<18-bit mergeable bitmap, then ALL docs
    * probed — the join-free "seen before" gate. Ground truth
    * (`is_member`, an exact semi-join the oracle replays) sits beside
    * the probe result; at these parameters (≤300 keys, 4 lanes, 256
    * Kbit) the false-positive probability is ~1e-13 per probe, so
    * `bloom_hit` pins EQUAL to membership — no false negatives by
    * construction, no false positives by sizing (the q40
    * approx-vs-exact discipline). */
  def q182_bloom_membership(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val d = documents(s, dir)
      .select(col("doc_id"), normalizedFingerprint(col("text")).as("fp"))
    val corpus = d.where(col("doc_id") % 2 === 0)
    val probed = Dedup.bloomMembership(corpus, "fp", d, "fp",
      numBits = 1 << 18, numHashes = 4)
    val members = corpus.select(col("fp")).distinct()
      .withColumn("__m", lit(1))
    probed.join(members, Seq("fp"), "left")
      .select(col("doc_id").as("probe_id"),
        coalesce(col("__m"), lit(0)).as("is_member"),
        col("bloom_hit"))
      .orderBy(col("probe_id"))
  }

  /** SENTENCE-boundary chunking ([[CorpusPrep.chunkSentences]]): the
    * RAG/embedding chunker — whole sentences greedy-packed into
    * 24-word-budget chunks over the sentencified corpus + fixtures.
    * The oracle composes its replayable halves: the q180 segmentation
    * rule, per-sentence word costs, and q141's greedy fold CTE with
    * sentences as the units — boundaries, costs, and chunk texts must
    * all agree. */
  def q183_sentence_chunks(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), sentencify(col("text")).as("text"))
      .unionByName(sentenceFixtureDocs(s))
    CorpusPrep.chunkSentences(d, "text", "doc_id", maxWords = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** SQL SUBQUERY surface — scalar (correlated aggregate in SELECT),
    * `IN`, correlated `EXISTS`, and `NOT EXISTS` in one statement:
    * Catalyst's subquery machinery (RewriteCorrelatedScalarSubquery,
    * RewritePredicateSubquery) decorrelates all four into the
    * semi/anti/left-join plans the engine already proves (q04-q07) —
    * this lane proves the SQL FORMS resolve to them. Integer/date-only
    * outputs (counts, formatted min date, flags), so both engines are
    * exact. */
  def q187_sql_subqueries(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("orders_sq")
    customer(s, dir).createOrReplaceTempView("customer_sq")
    s.sql("""
      SELECT c_custkey, c_mktsegment,
        (SELECT count(*) FROM orders_sq o
          WHERE o.o_custkey = c.c_custkey) AS n_orders,
        (SELECT date_format(min(o.o_orderdate), 'yyyy-MM-dd')
          FROM orders_sq o WHERE o.o_custkey = c.c_custkey) AS first_order,
        CAST(CASE WHEN EXISTS (SELECT 1 FROM orders_sq o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT')
          THEN 1 ELSE 0 END AS INT) AS has_urgent
      FROM customer_sq c
      WHERE c.c_custkey IN
          (SELECT o_custkey FROM orders_sq WHERE o_orderstatus = 'O')
        AND NOT EXISTS (SELECT 1 FROM orders_sq o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderstatus = 'F' AND o.o_orderpriority = '5-LOW')
      ORDER BY c_custkey""")
  }

  /** LATERAL correlated subquery — per-row top-k without a window over
    * the whole table: each customer's 2 most recent orders via a
    * correlated ORDER BY/LIMIT subquery (the SQL form of the top-k
    * pattern q03/q49 prove as operators). Ties broken by order key so
    * both engines pick identical rows. */
  def q188_lateral_topk(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("orders_sq")
    customer(s, dir).createOrReplaceTempView("customer_sq")
    s.sql("""
      SELECT c.c_custkey, t.o_orderkey,
        date_format(t.o_orderdate, 'yyyy-MM-dd') AS order_date
      FROM customer_sq c,
      LATERAL (SELECT o.o_orderkey, o.o_orderdate FROM orders_sq o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o.o_orderdate DESC, o.o_orderkey LIMIT 2) t
      WHERE c.c_custkey <= 200
      ORDER BY c.c_custkey, t.o_orderkey""")
  }

  /** DUPLICATE-CLUSTER size HISTOGRAM — the corpus-accounting view of
    * the near-dup graph ("how much of my corpus sits in how-big
    * duplicate clusters"): exact Jaccard ≥ 0.5 pairs → connected
    * components ([[Dedup.components]], min-label) → cluster sizes →
    * (size, clusters, docs) histogram, with unpaired docs reported as
    * size-1 clusters via an anti-join (no driver-side counting). The
    * component labels and closure are what q66 proves; this reports
    * their distribution. Histogram stages are component- then
    * size-cardinality aggregates — metadata-sized after the pair
    * join. */
  def q190_cluster_histogram(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.jaccardJoinExact(shingleSets(docs), 0.5)
    val comp = Dedup.components(pairs)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
    val multi = sizes.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .select(col("sz").cast("long").as("cluster_size"),
        col("n_clusters"), col("n_docs"))
    val single = docs
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(1L).as("cluster_size"), col("n").as("n_clusters"),
        col("n").as("n_docs"))
      .where(col("n_clusters") > 0)
    multi.unionByName(single).orderBy(col("cluster_size"))
  }

  /** BPE training ON the corpus ([[graft.functions.Bpe.trainOnCorpus]]):
    * one distributed pass collapses the corpus to its word-frequency
    * table, the merge loop runs over the vocabulary — the
    * train-your-tokenizer-on-your-data step a pipeline runs before
    * q174-style exact counting. The oracle replays ALL 24 TRAINING
    * STEPS relationally: per step, position-weighted pair counts over
    * the evolving symbol representations, the max-count /
    * lexicographic-tie argmax, and the leftmost-non-overlapping rewrite
    * (a double-space replace trick makes DuckDB's left-to-right
    * `replace` exactly the trainer's merge pass) — the trained merges
    * must hash-match rank by rank. */
  def q191_bpe_train(s: SparkSession, dir: String): DataFrame = {
    val merges = graft.functions.Bpe.trainOnCorpus(
      documents(s, dir).select(col("text")), "text", nMerges = 24)
    val sI = s; import sI.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r) }
      .toDF("rank", "lhs", "rhs")
      .orderBy(col("rank"))
  }

  /** RECURSIVE CTE surface (`WITH RECURSIVE`, new in Spark 4): an
    * acyclic bounded recursion generating the order-date year series,
    * each year then scored by a correlated scalar subquery — the SQL
    * form of iterative series generation both engines terminate and
    * agree on exactly (counts only; no floats). */
  def q189_recursive_cte(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("orders_sq")
    s.sql("""
      WITH RECURSIVE yrs(y) AS (
        SELECT 1992
        UNION ALL
        SELECT y + 1 FROM yrs WHERE y < 1998
      )
      SELECT y,
        (SELECT count(*) FROM orders_sq o WHERE year(o.o_orderdate) = y)
          AS n_orders,
        (SELECT count(DISTINCT o.o_custkey) FROM orders_sq o
          WHERE year(o.o_orderdate) = y) AS n_customers
      FROM yrs ORDER BY y""")
  }

  /** PAGERANK over the customer⇄supplier trade graph
    * ([[graft.operators.Graph.pageRank]]): edges are the orders⋈lineitem
    * pairs collapsed to (customer, supplier, lineitem-count) and
    * symmetrized (both directions carry the weight), so importance flows
    * through shared trading partners — the link-analysis primitive a
    * crawl pipeline runs over its host graph to prioritize fetch/keep
    * decisions. Exact pico-rank fixed point: the oracle replays ALL six
    * power-iteration supersteps relationally as a MATERIALIZED-CTE chain
    * (the q191 iterative-state discipline) and the top-30 ranks must
    * hash-match bit for bit. */
  def q192_pagerank(s: SparkSession, dir: String): DataFrame = {
    val e0 = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("sk"))
      .agg(count(lit(1)).as("w"))
    val edges = e0.select(col("c").as("src"), col("sk").as("dst"), col("w"))
      .unionByName(e0.select(col("sk").as("src"), col("c").as("dst"),
        col("w")))
    Graph.pageRank(edges, iterations = 6)
      .orderBy(col("rank_pico").desc, col("node_id"))
      .limit(30)
  }

  /** CONTENT-DEFINED-CHUNK dedup accounting
    * ([[CorpusPrep.cdcChunkNovelty]] over [[graft.functions
    * .TextFunctions.cdcChunks]]): Rabin rolling-hash boundaries make
    * chunking SHIFT-ROBUST — the planted twins here are earlier docs
    * with a prefix spliced on, which line/fixed-width splitting would
    * see as 100% new content; CDC re-aligns after the edit, so each
    * twin scores near-zero novelty (only the chunks the splice touched
    * are new). The oracle replays the rolling hash, the cut rule, the
    * chunk slicing, and the first-holder credit verbatim. */
  def q193_cdc_chunks(s: SparkSession, dir: String): DataFrame = {
    val d0 = documents(s, dir).select(col("doc_id"), col("text"))
    val twins = d0.where(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("shifted boilerplate prefix "), col("text")).as("text"))
    CorpusPrep.cdcChunkNovelty(d0.unionByName(twins), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** COUNT-MIN SKETCH frequency estimates
    * ([[graft.functions.Udx.CountCellsAggregator]] + the codegen'd
    * [[graft.functions.Udx.cmsPos]]/[[graft.functions.Udx.cmsEstimate]]
    * lanes): one map-side pass summarizes per-(event_type, day)
    * frequencies into a 4×16384 mergeable linear sketch, the sketch
    * broadcasts, and every key's estimate is the min over its lane
    * cells — the at-scale frequency table when the exact key shuffle
    * is too wide. `never_undercounts` is the structural CMS guarantee;
    * `sketch_exact` pins estimate == exact at this width/cardinality
    * (the q182 Bloom-gate sizing discipline) — both verified
    * engine-independently against DuckDB's exact counts. */
  def q194_cms_counts(s: SparkSession, dir: String): DataFrame = {
    val depth = 4; val width = 16384
    val ev = events(s, dir).select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .withColumn("__k", concat_ws("|", col("event_type"), col("day")))
    val sketch = ev
      .select(explode(Udx.cmsPositions(col("__k"), depth, width)).as("__pos"))
      .agg(Udx.cmsCells(depth * width)(col("__pos")).as("__cells"))
    events(s, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sketch))
      .withColumn("__est", Udx.cmsEstimate(col("__cells"),
        concat_ws("|", col("event_type"), col("day")), depth, width))
      .select(col("event_type"), col("day"), col("n_exact"),
        (col("__est") >= col("n_exact")).cast("int").as("never_undercounts"),
        (col("__est") === col("n_exact")).cast("int").as("sketch_exact"))
      .orderBy(col("event_type"), col("day"))
  }

  /** TABLE-VERSION semantic diff ([[graft.GraftTable.diffVersions]]):
    * every key across two snapshots classified added / removed /
    * updated / unchanged via a full outer join of two time-travel
    * reads with a null-safe whole-row compare — the "what changed
    * between Tuesday and today" audit that works between ANY two
    * versions (compaction/restore boundaries included), where the
    * change feed needs contiguous commit history. The fixture commits
    * one deterministic mutation batch (updates %40, deletes %55 that
    * aren't %40, inserts offset fresh keys); the oracle replays the
    * residue rules over the base table. */
  def q195_version_diff(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val work = java.nio.file.Files.createTempDirectory("graft-q195").toString
    val t = graft.GraftTable.create(c, s"$work/t", "c_custkey", numFiles = 6)
    val batch = c.where(col("c_custkey") % 40 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(10.0))
      .withColumn("op", lit("upsert"))
      .unionByName(c.where(col("c_custkey") % 40 =!= 0 &&
          col("c_custkey") % 55 === 0)
        .withColumn("op", lit("delete")))
      .unionByName(c.where(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_name"), col("c_acctbal"))
        .withColumn("op", lit("upsert")))
    t.commit(batch) // v0
    t.diffVersions(-1L, 0L).orderBy(col("c_custkey"))
  }

  /** MULTI-SOURCE BFS hop distances ([[Graph.shortestPaths]]) over the
    * q192 trade graph from every 10th supplier — link-distance from a
    * seed set, the crawl-frontier prioritization primitive. Exact
    * integer relaxation, bounded supersteps; unreached surfaces as −1.
    * The oracle replays all four relaxation steps as a generated
    * MATERIALIZED-CTE chain. */
  def q196_shortest_paths(s: SparkSession, dir: String): DataFrame = {
    val e0 = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("sk"))
      .agg(count(lit(1)).as("w"))
    val edges = e0.select(col("c").as("src"), col("sk").as("dst"))
      .unionByName(e0.select(col("sk").as("src"), col("c").as("dst")))
    val sources = e0.select(col("sk")).distinct()
      .where((col("sk") - SuppNodeOffset) % 10 === 0)
    Graph.shortestPaths(edges, sources, maxHops = 4)
      .select(col("node_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy(col("node_id"))
  }

  /** PER-NODE TRIANGLE COUNTS ([[Graph.triangleCounts]]) on the
    * supplier co-supply graph (edge when two suppliers share >= 4
    * distinct parts, hash-thinned to ~40% of pairs — the co-supply
    * graph is near-complete at every sf, so a deterministic replayable
    * down-sample gives the fixture real structure; the mixture
    * hash-sampling discipline) — the clustering/community signal over
    * a similarity graph, by DEGREE-ORDERED orientation (wedge volume
    * Σ out-deg², out-degree O(√m) — the formulation that survives a
    * celebrity hub). The oracle counts the same triangles through the
    * orientation-free canonical triple join: per-node counts must
    * agree exactly, proving the oriented decomposition loses and
    * double-counts nothing. */
  def q197_triangles(s: SparkSession, dir: String): DataFrame = {
    val sp = lineitem(s, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sv"))
      .distinct()
    val edges = sp.as("x").join(sp.as("y"),
        col("x.p") === col("y.p") && col("x.sv") < col("y.sv"))
      .groupBy(col("x.sv").as("src"), col("y.sv").as("dst"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= 4 &&
        pmod(col("src") * 131 + col("dst"), lit(10)) < 4)
      .select(col("src"), col("dst"))
    Graph.triangleCounts(edges).orderBy(col("node_id"))
  }

  /** TRAINING-SHARD assignment ([[CorpusPrep.assignShards]]): contiguous
    * token-budgeted shard ids from a distributed exclusive prefix sum —
    * the manifest-producing export step (`partitionBy("shard_id")`
    * writes the shards; this query IS the manifest: per-shard doc/token
    * counts and id ranges). The oracle replays the prefix sum, the DIV
    * rule, and the manifest aggregate over the estimate tokenizer. */
  def q198_shard_assign(s: SparkSession, dir: String): DataFrame = {
    CorpusPrep.assignShards(
        documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", shardTokens = 2000L)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  /** ROLLING ANOMALY DETECTION ([[EventAnalytics.rollingAnomalies]]):
    * per-user trailing-window z-score flags in exact integer arithmetic
    * — the metric-monitoring primitive, with planted deterministic
    * spikes (every 997th event ×10, a rule both engines replay) so the
    * detector provably fires. The (n·x−S)² > k²(n·Q−S²) formulation
    * needs no sqrt and no float accumulation, so the oracle replays the
    * whole detector including the flags. */
  def q199_rolling_anomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
        col("ts"),
        when(col("event_id") % 997 === 0, col("value") * 10)
          .otherwise(col("value")).as("val"))
    EventAnalytics.rollingAnomalies(ev, "user_id", "ts", "event_id", "val")
      .select(col("event_id"), col("user_id"), col("v_scaled"),
        col("n_prior"), col("is_anomaly"))
      .orderBy(col("event_id"))
  }

  /** OHLC DOWNSAMPLING: per (event_type, day) open/high/low/close of
    * the value stream — the time-series compaction every metrics store
    * runs; open/close picked by row_number over the (ts, event_id)
    * order (exact row values, no accumulation — doubles compare
    * bit-identically), high/low are exact picks too. One bounded
    * (type, day) window + one aggregate. */
  def q200_ohlc(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      col("ts"), col("event_id"), col("value"))
    val wAsc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("__ra", row_number().over(wAsc))
      .withColumn("__rd", row_number().over(wDesc))
      .groupBy(col("event_type"), col("day"))
      .agg(max(when(col("__ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("__rd") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("day"))
  }

  /** PARTITIONED HLL DISTINCT COUNTING: per-(type, day) DataSketches
    * HLL sketches built once (the persistable incremental form — at
    * scale these live in a sketch-column table and new days merge in
    * without rescanning history), then UNIONED per type; the estimate
    * from the union must EQUAL the direct whole-scan sketch
    * (`merged_eq_direct` pinned 1 — HLL's bucket-max structure makes
    * sketch(A∪B) ≡ union(sketch(A), sketch(B)), the linearity that
    * makes incremental maintenance exact), and sit within 5% of the
    * exact distinct (`within_eps` pinned 1 — lgK 12 ⇒ ~1.6% rsd). The
    * oracle pins both flags against DuckDB's exact distinct. */
  def q201_hll_partitioned(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("user_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val parts = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("__sk"))
    val merged = parts.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est_m"))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("__est_d"),
        countDistinct(col("user_id")).as("n_exact"))
    direct.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (col("__est_m") === col("__est_d")).cast("int")
          .as("merged_eq_direct"),
        (abs(col("__est_d") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.05).cast("int").as("within_eps"))
      .orderBy(col("event_type"))
  }

  /** TOKEN-BUDGETED per-source mixture
    * ([[CorpusPrep.tokenBudgetMixture]]): "take ~3000 tokens from each
    * source" — the unit real mixture specs are written in (doc-count
    * mixtures over-weight short-doc sources). Deterministic
    * multiplicative-hash order within source, a GROUPED distributed
    * prefix sum (monotone hash-bit buckets — never one window
    * partition per source), keep while the exclusive prefix is under
    * budget. The oracle replays the hash, the order, the window prefix
    * sum, and the keep rule verbatim. */
  def q202_token_mixture(s: SparkSession, dir: String): DataFrame = {
    CorpusPrep.tokenBudgetMixture(
        documents(s, dir).select(col("doc_id"), col("source"), col("text")),
        "source", "text", "doc_id", tokenBudget = 3000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).cast("long").as("n_kept"),
        sum(when(col("kept") === 1, col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** k-CORE of the customer⇄supplier trade graph ([[Graph.kCore]],
    * k = 5 over pairs with ≥ 2 lineitems): iterative peeling to the
    * maximal subgraph of well-connected participants — the community/
    * spam-farm pruning primitive. Bipartite peeling has real depth
    * here (a customer's survival depends on its suppliers' survival
    * and vice versa); the operator runs to the FIXPOINT and fail-fasts
    * past `maxRounds`, and because peeling is idempotent after
    * convergence the oracle replays a fixed 12-round chain exactly. */
  def q203_kcore(s: SparkSession, dir: String): DataFrame = {
    val e0 = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("src"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("dst"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
      .select(col("src"), col("dst"))
    Graph.kCore(e0, k = 5, maxRounds = 12).orderBy(col("node_id"))
  }

  /** EDIT-DISTANCE similarity join ([[Dedup.editDistancePairs]]): fuzzy
    * key matching over 12-char text prefixes with planted substitution
    * (ed 1) and double-insertion (ed 2) twins — the entity-resolution
    * primitive. Candidates via the q-gram COUNT-FILTER guarantee (the
    * lemma makes gram blocking complete for these lengths), verified by
    * codegen'd levenshtein; the oracle brute-forces every pair with
    * DuckDB's levenshtein (identical unit-cost semantics), so blocking
    * completeness itself is what hash-matching proves. */
  def q204_fuzzy_join(s: SparkSession, dir: String): DataFrame = {
    val ks = documents(s, dir).where(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        lower(substring(trim(col("text")), 1, 12)).as("k"))
      .where(length(col("k")) >= 12)
    val seed = ks.where(col("doc_id") % 50 === 0)
    val tw1 = seed.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(substring(col("k"), 1, 3), lit("x"),
        substring(col("k"), 5, 8)).as("k"))
    val tw2 = seed.select((col("doc_id") + 2000000L).as("doc_id"),
      concat(substring(col("k"), 1, 6), lit("zz"),
        substring(col("k"), 7, 6)).as("k"))
    Dedup.editDistancePairs(ks.unionByName(tw1).unionByName(tw2),
        "k", "doc_id", maxDist = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** EPOCH UPSAMPLING ([[CorpusPrep.upsampleEpochs]]): fractional
    * per-source repeat weights (2.5 / 1.0 / 0.25 epochs, classed by a
    * deterministic rule on the source name both engines replay) — the
    * Gopher/LLaMA-style mixing step. ⌊w⌋ full epochs plus a
    * hash-thresholded fractional one; the oracle replays the epoch
    * explode, the fixed-point threshold, and the keep rule verbatim.
    * The distinct-source collect here is manifest-sized (the weights
    * TABLE is caller input in production). */
  def q205_epoch_upsample(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("source"))
    val srcs = d.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val weights = srcs.toSeq.map { src =>
      src -> ((src.last.toInt % 3) match {
        case 0 => 2.5
        case 1 => 1.0
        case _ => 0.25
      })
    }
    CorpusPrep.upsampleEpochs(d, "source", "doc_id", weights)
      .groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("source"), col("epoch"))
  }

  /** PERSONALIZED PageRank ([[Graph.pageRank]] with `seeds`): the whole
    * teleport mass lands uniformly on every 10th supplier — rank now
    * measures proximity-weighted importance RELATIVE to the seed set
    * (crawl-frontier prioritization / TrustRank), while total teleport
    * mass matches q192's uniform run so the two are comparable. Same
    * exact fixed point; the oracle replays the seeded six-superstep
    * chain bit for bit. */
  def q206_personalized_pr(s: SparkSession, dir: String): DataFrame = {
    val e0 = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("sk"))
      .agg(count(lit(1)).as("w"))
    val edges = e0.select(col("c").as("src"), col("sk").as("dst"), col("w"))
      .unionByName(e0.select(col("sk").as("src"), col("c").as("dst"),
        col("w")))
    val seeds = e0.select(col("sk")).distinct()
      .where((col("sk") - SuppNodeOffset) % 10 === 0)
    Graph.pageRank(edges, iterations = 6, seeds = Some(seeds))
      .orderBy(col("rank_pico").desc, col("node_id"))
      .limit(30)
  }

  /** SCENE-CHANGE detection ([[Multimodal.sceneChanges]]): per-frame
    * dHash + predecessor Hamming over each video's frame order — the
    * shot-boundary step before per-scene sampling/dedup. Two-scene
    * fixture videos (constant frames, one splice at the closed-form
    * index) must report exactly one cut AT that index; one-scene
    * controls report none. The oracle replays the closed-form frame
    * arithmetic — the detector's output must land on it exactly. */
  def q207_scene_cuts(s: SparkSession, dir: String): DataFrame = {
    val two = Multimodal.sceneFixtureVideos(
      documents(s, dir).where(col("doc_id") % 7 === 0)
        .select(col("doc_id")), scenes = 2)
    val one = Multimodal.sceneFixtureVideos(
      documents(s, dir).where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id")), scenes = 1)
    Multimodal.sceneChanges(two.unionByName(one))
      .orderBy(col("media_id"))
  }

  /** DAU/MAU STICKINESS ([[EventAnalytics.stickiness]]): daily actives
    * over the trailing-28-day actives, exact counts and a floor-micros
    * ratio. The MAU side uses the contribution flip (each active day
    * fans out to the 28 days it makes the user MAU-visible on — one
    * bounded map-side explode + two partial-agg shuffles) instead of a
    * distinct-over-range window no engine can partial-aggregate. The
    * oracle replays the flip relationally. */
  def q208_stickiness(s: SparkSession, dir: String): DataFrame = {
    EventAnalytics.stickiness(events(s, dir), "user_id", "ts")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("mau"), col("stickiness_micros"))
      .orderBy(col("day"))
  }

  /** WEIGHTED shortest paths (bounded Bellman–Ford,
    * [[Graph.shortestPaths]] with `weightCol`): edge cost
    * `1 + 100 DIV lineitem-count` makes strong trade ties cheap, so
    * distance now measures RELATIONSHIP-WEIGHTED proximity from the
    * seed suppliers — a cheap 2-hop detour beats an expensive direct
    * edge, which is exactly what the oracle's relaxation chain
    * replays. Exact for paths of ≤ 4 edges (the hop horizon). */
  def q209_weighted_paths(s: SparkSession, dir: String): DataFrame = {
    val e0 = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("sk"))
      .agg(count(lit(1)).as("w"))
    val edges = e0.select(col("c").as("src"), col("sk").as("dst"), col("w"))
      .unionByName(e0.select(col("sk").as("src"), col("c").as("dst"),
        col("w")))
      .withColumn("cost", lit(1L) + expr("100L DIV w"))
    val sources = e0.select(col("sk")).distinct()
      .where((col("sk") - SuppNodeOffset) % 10 === 0)
    Graph.shortestPaths(edges, sources, maxHops = 4,
        weightCol = Some("cost"))
      .select(col("node_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy(col("node_id"))
  }

  /** STUPID-BACKOFF PERPLEXITY under a clean-corpus LM
    * ([[CorpusPrep.stupidBackoffScore]]) — the CCNet-style gate stage:
    * the LM trains on the designated clean third of the corpus
    * (doc_id % 3 = 0) and scores EVERY document through the
    * trigram→bigram→unigram→OOV backoff chain. The oracle retrains
    * the identical count tables and replays the chain per token; the
    * per-doc backoff-level counts (n_tri/n_bi/n_uni/n_oov) are exact
    * integers — the hash-stable proof of the backoff logic — and
    * nll/ppl follow q88's ln-agreement discipline. */
  def q211_backoff_ppl(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    CorpusPrep.stupidBackoffScore(docs,
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** The PERPLEXITY GATE composed into the quality stack
    * ([[CorpusPrep.stupidBackoffScore]] + [[graft.functions
    * .TextFunctions.gopherPass]]): per-source counts of documents
    * passing the clean-corpus-LM gate (rounded ppl <= 20 — train-split
    * docs score ~4-10, the rest ~40-80, so the threshold genuinely
    * splits), the Gopher gate, and both, with kept-token accounting —
    * the CCNet-style stage slotted next to the existing heuristic
    * gates. The oracle recomputes BOTH gates from scratch (the q211
    * chain + the q132 replay) and the rollup. */
  def q212_ppl_quality_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val docs = documents(s, dir).select(col("doc_id"), col("source"),
      col("text"))
    val scored = CorpusPrep.stupidBackoffScore(docs,
        docs.where(col("doc_id") % 3 === 0), "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("ppl"))
    docs.join(scored, Seq("doc_id"))
      .select(col("source"), col("n_tokens"),
        coalesce((col("ppl") <= 20.0).cast("int"), lit(0)).as("__p"),
        gopherPass(col("text"), minWords = 30).cast("int").as("__g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__p")).cast("long").as("n_ppl_pass"),
        sum(col("__g")).cast("long").as("n_gopher_pass"),
        sum(col("__p") * col("__g")).cast("long").as("n_both"),
        sum(when(col("__p") * col("__g") === 1, col("n_tokens"))
          .otherwise(0L)).as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** CONTAINMENT dedup ([[Dedup.containmentJoin]]): subset-duplication
    * pairs Jaccard structurally misses — every 25th doc gains a
    * planted PREFIX-HALF fragment twin (first half of its words, a
    * rule both engines replay), whose 3-shingles are a strict subset
    * of the original's: containment exactly 1.0, Jaccard ≈ 0.5 —
    * below any useful resemblance threshold, which is the point
    * (Broder's resemblance-vs-containment distinction). The oracle
    * brute-forces every pair (no size prefilter is valid for
    * containment), so blocking-free completeness is what hash-matching
    * proves; `contained_id` names the fragment side. */
  def q220_containment(s: SparkSession, dir: String): DataFrame =
    // the shingle pipeline is re-evaluated per branch reference inside
    // the exact join (sizes + inverted index) — materialize the sets
    // once; results unchanged
    Dedup.containmentJoin(
        shingleSets(containmentCorpus(s, dir)).transform(graft.operators.Materialize.ck), 0.9)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"), col("contained_id"))
      .orderBy(col("id_a"), col("id_b"))

  /** The q220/q221 fragment-twin corpus: every 25th doc contributes a
    * prefix-half twin — a planted subset-duplication population whose
    * containment to its parent is ~1.0 while its Jaccard sits near 1/2. */
  private def containmentCorpus(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs0 = documents(s, dir).select(col("doc_id"), col("text"))
    val twins = docs0
      .where(col("doc_id") % 25 === 0)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__toks"))
      .where(size(col("__toks")) >= 8)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ",
          slice(col("__toks"), lit(1), expr("size(__toks) DIV 2")))
          .as("text"))
    docs0.unionByName(twins)
  }

  /** CONTAINMENT-LSH DISCOVERY ([[Dedup.containmentPairs]], asymmetric
    * prefix-filter blocking — the sub-quadratic twin of q220's exact
    * harness), oracle-checkable form: the emitted rows are the EXACT
    * containment ≥ 0.9 pairs (DuckDB brute-forces them, the q220 form)
    * plus an aggregate `recall_ok` flag asserting the CAPPED discovery
    * path (container postings capped at 32 per element — the scale
    * configuration with overflow receipts) recovered ≥ 70% of them.
    * Uncapped, discovery provably equals the exact join (prefix lemma +
    * exact verification — DedupSpec pins the equality); this lane pins
    * that the bounded-work configuration still finds the planted
    * fragment twins. */
  def q221_containment_discovery(s: SparkSession, dir: String): DataFrame = {
    // exact harness + discovery + two verify joins all reference the
    // shingle sets — materialize them once (≥6 map-side re-shingles of
    // the corpus otherwise); results unchanged
    val sets = shingleSets(containmentCorpus(s, dir)).transform(graft.operators.Materialize.ck)
    val exact = Dedup.containmentJoin(sets, 0.9)
    val (disc, _) = Dedup.containmentPairs(sets, 0.9, maxPostingWidth = 32)
    val flagged = exact.join(
        disc.select(col("id_a"), col("id_b"), lit(1).as("f")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("containment"),
        col("contained_id"), coalesce(col("f"), lit(0)).as("f"))
    val recall = flagged.agg(
      (sum(col("f")).cast("double") / count(lit(1)) >= 0.7)
        .cast("int").as("recall_ok"))
    flagged.crossJoin(recall)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"),
        col("contained_id"), col("recall_ok"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** TOKEN ENTROPY + type-token ratio per document
    * ([[CorpusPrep.tokenEntropy]]) — the lexical-diversity signal for
    * quality ranking: Shannon entropy of the word distribution (every
    * ln argument an exact integer count — the q88 ln-agreement
    * discipline) plus the exact-integer `ttr_micros` anchor. The
    * oracle recomputes the distribution and the algebra verbatim. */
  def q219_token_entropy(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.tokenEntropy(documents(s, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** LABEL-PROPAGATION COMMUNITIES ([[Graph.labelPropagation]],
    * synchronous/deterministic variant — smallest-label tie-break, no
    * randomized order) over the strong-tie trade graph: four majority-
    * vote rounds, every node labeled. The round budget IS the contract
    * (synchronous LPA may oscillate, so there is no fixpoint claim);
    * the oracle replays all four rounds as a generated CTE chain —
    * per-node neighbor-label counts and the (count desc, label asc)
    * argmax — and every label must hash-match. */
  def q218_label_propagation(s: SparkSession, dir: String): DataFrame = {
    val e0 = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("src"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("dst"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
      .select(col("src"), col("dst"))
    Graph.labelPropagation(e0, rounds = 4)
      .orderBy(col("node_id"))
  }

  /** KMV DISTINCT-OVERLAP sketching ([[graft.functions.Udx
    * .kmvSketch]]): per-event-type k-minimum-values sketches of the
    * distinct USER-DAY population (every user hits every type in the
    * fixture, so user-days are the domain with real partial overlap;
    * k=64, fed by the engine-portable polynomial hash), then pairwise
    * SET ALGEBRA over the sketches
    * alone — union estimate, intersection count inside the union
    * sketch, and a floor-micros Jaccard — the audience-overlap /
    * cross-contamination question a union-only sketch (HLL) cannot
    * answer without inclusion-exclusion error stacking. Because the
    * hash is portable, the oracle replays the ENTIRE sketch — the k
    * smallest distinct hashes per type, the union, the estimates —
    * exactly; nothing is pinned. */
  def q217_kmv_overlap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions, Udx}
    val k = 64
    val ev = events(s, dir).select(col("event_type"),
      Udx.kmvHash(concat(col("user_id").cast("string"),
        lit("-"), date_format(col("ts"), "yyyy-MM-dd"))).as("__h"))
    val sk = ev.groupBy(col("event_type"))
      .agg(Udx.kmvSketch(k)(col("__h")).as("__s"))
    val pairs = sk.select(col("event_type").as("type_a"),
        col("__s").as("__sa"))
      .crossJoin(sk.select(col("event_type").as("type_b"),
        col("__s").as("__sb")))
      .where(col("type_a") < col("type_b"))
    pairs
      .withColumn("__u", Udx.kmvUnion(col("__sa"), col("__sb"), k))
      .select(col("type_a"), col("type_b"),
        Udx.kmvEstimate(col("__sa"), k).as("est_a"),
        Udx.kmvEstimate(col("__sb"), k).as("est_b"),
        Udx.kmvEstimate(col("__u"), k).as("est_union"),
        size(filter(col("__u"), x =>
          array_contains(col("__sa"), x) && array_contains(col("__sb"), x)))
          .cast("long").as("inter_k"),
        size(col("__u")).cast("long").as("denom_k"))
      .withColumn("j_micros", expr("(inter_k * 1000000L) DIV denom_k"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** HITS hubs and authorities ([[Graph.hits]]) over the DIRECTED
    * customer→supplier trade graph — a customer is a good hub when it
    * buys from good authorities and vice versa, the bipartite
    * link-analysis view PageRank's symmetrized run can't give. Exact
    * integer max-normalized power iteration (normalization never
    * reorders, and both engines floor-divide the same integers); the
    * oracle replays all four supersteps — authority from hubs,
    * normalize, hub from authorities, normalize — as a generated
    * MATERIALIZED-CTE chain, every score hash-matched. */
  def q216_hits(s: SparkSession, dir: String): DataFrame = {
    val e = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("dst"))
      .distinct()
    Graph.hits(e, iterations = 4)
      .orderBy(col("node_id"))
  }

  /** CONNECTED COMPONENTS ([[Graph.connectedComponents]], alternating
    * large-star/small-star — O(log²) rounds, diameter-independent) over
    * the strong-tie trade graph (customer–supplier pairs with ≥ 3
    * lineitems, so the graph fragments into real components). Every
    * node is labeled with its component's minimum id; the oracle
    * computes TRUE components independently via a recursive-CTE
    * reachability closure, so hash-matching proves the star-contraction
    * algorithm itself correct on this graph — not merely replayed. */
  def q213_connected_components(s: SparkSession, dir: String): DataFrame = {
    val e0 = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("src"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("dst"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 3)
      .select(col("src"), col("dst"))
    Graph.connectedComponents(e0, maxRounds = 12)
      .orderBy(col("node_id"))
  }

  /** STRONGLY CONNECTED COMPONENTS
    * ([[Graph.stronglyConnectedComponents]], deterministic forward
    * coloring + backward sweep) over a DIRECTED trade graph with real
    * cycles: customer→supplier edges for strong ties (≥ 3 lineitems)
    * plus supplier→customer RETURN edges (returnflag 'R', ≥ 2
    * lineitems) — a customer and supplier locked in a buy/return loop
    * form a nontrivial SCC, the crawl-loop structure undirected
    * components can't see. Every node is labeled with its SCC's
    * minimum id; the oracle computes TRUE SCCs independently via a
    * mutual-reachability closure (forward closure self-joined on the
    * reversed pair), so hash-matching proves the peeling algorithm
    * itself correct on this graph — the q213 discipline. */
  def q222_scc(s: SparkSession, dir: String): DataFrame = {
    val oli = orders(s, dir)
      .join(lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
    val fwd = oli
      .groupBy(col("o_custkey").as("src"),
        (lit(SuppNodeOffset) + col("l_suppkey")).as("dst"))
      .agg(count(lit(1)).as("__n")).where(col("__n") >= 3)
      .select(col("src"), col("dst"))
    val back = oli.where(col("l_returnflag") === "R")
      .groupBy((lit(SuppNodeOffset) + col("l_suppkey")).as("src"),
        col("o_custkey").as("dst"))
      .agg(count(lit(1)).as("__n")).where(col("__n") >= 2)
      .select(col("src"), col("dst"))
    Graph.stronglyConnectedComponents(fwd.unionByName(back),
        maxRounds = 32)
      .orderBy(col("node_id"))
  }

  /** BM25 served from the PERSISTED inverted index
    * ([[CorpusPrep.bm25SeedIndex]]/[[CorpusPrep.bm25IndexIngest]]/
    * [[CorpusPrep.bm25TopKIndexed]]): seed on the even half, ingest the
    * odd half as an incremental batch, probe — the result must equal
    * the batch recompute over the FULL corpus, which is exactly what
    * the oracle (the q147 scorer) replays. Proves seed + ingest +
    * index-served scoring ≡ recompute: tf/df/dl from the index, N and
    * avgdl from the stats AggView (one row, caught up delta-priced by
    * this probe itself — the ingest commits only the tables; exact
    * longs, so the view path's scores are bit-identical to the doclen
    * scan's), postings term-filtered with dim zone-map file pruning
    * before IO. Besides the view's refresh and read, the probe runs
    * three jobs: one stats pass (df per term, N, Σdl) whose results
    * enter the scoring query as literals, then the scoring shuffle and
    * the top-k. */
  def q185_bm25_indexed(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25idx").toString + "/idx"
    CorpusPrep.bm25SeedIndex(root,
      docs.where(col("doc_id") % 2 === 0), "text", "doc_id")
    CorpusPrep.bm25IndexIngest(root,
      docs.where(col("doc_id") % 2 =!= 0), "text", "doc_id")
    CorpusPrep.bm25TopKIndexed(s, root,
      query = Seq("table", "scan", "stream"), k = 12,
      statsFromView = true)
  }

  /** N-GRAM NOVELTY per document — the memorization/duplication signal
    * (Lee et al. flavor): the fraction of a doc's DISTINCT 5-word
    * shingles whose FIRST holder (lowest doc id) is the doc itself.
    * Exact duplicates score 0 unless they are the first copy;
    * boilerplate-heavy docs score low.
    *
    * Shape chosen FOR skew: each gram contributes its novelty credit to
    * exactly its first holder, so `n_novel` comes straight off the
    * first-holder table — two partial AGGREGATIONS (min per gram, count
    * per doc; both map-side combined, so a boilerplate gram present in
    * EVERY doc collapses before the shuffle) + one doc-keyed join of
    * two doc-sized tables. A gram-partitioned min WINDOW would compute
    * the same thing in one pass but puts the hot gram's whole corpus in
    * ONE window partition — a funnel AQE cannot split; the corpus-sized
    * gram⋈first-holder join has the same hot task (AQE-splittable, but
    * why pay it). At web scale the gram key becomes xxhash64 with the
    * carried gram disambiguating collisions (the dedupLines
    * discipline). */
  def q186_ngram_novelty(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val sh = documents(s, dir).select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), 5))).as("__g"))
    val novel = sh.groupBy(col("__g")).agg(min(col("doc_id")).as("__first"))
      .groupBy(col("__first")).agg(count(lit(1)).as("n_novel"))
      .withColumnRenamed("__first", "doc_id")
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_micros",
        expr("CAST(CASE WHEN n_grams > 0 THEN " +
          "(n_novel * 1000000L) DIV n_grams ELSE 0L END AS BIGINT)"))
      .orderBy(col("doc_id"))
  }

  /** BPE FERTILITY per language — the tokenizer-QA report every
    * multilingual corpus needs: exact committed-merges token counts
    * ([[graft.plans.BpeExpressions]]) aggregated by [[graft.functions
    * .TextFunctions.langId]] prediction into tokens-per-word and
    * chars-per-token (floor-micros, integer `div`). Languages the
    * merges table never saw (zh) tokenize near character granularity —
    * exactly the signal this report surfaces. Map-side kernel + one
    * 5-row aggregation; the oracle replays the full relational encoder
    * (q174's recursive CTE), the q33 langId rule, and the fixed-point
    * arithmetic. */
  def q184_bpe_fertility(s: SparkSession, dir: String): DataFrame = {
    graft.plans.BpeExpressions.register(s)
    import graft.functions.TextFunctions._
    documents(s, dir).select(col("doc_id"), col("text"))
      .unionByName(bpeFixtureDocs(s))
      .select(langId(col("text")).as("lang"),
        tokenCount(col("text")).cast("long").as("__w"),
        call_function("graft_bpe_count", col("text")).as("__b"),
        length(regexp_replace(trim(col("text")), "\\s+", ""))
          .cast("long").as("__c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__b")).as("bpe_tokens"),
        sum(col("__c")).as("n_chars"))
      .withColumn("tokens_per_word_micros",
        expr("CAST(CASE WHEN n_words > 0 THEN " +
          "(bpe_tokens * 1000000L) DIV n_words ELSE 0L END AS BIGINT)"))
      .withColumn("chars_per_token_micros",
        expr("CAST(CASE WHEN bpe_tokens > 0 THEN " +
          "(n_chars * 1000000L) DIV bpe_tokens ELSE 0L END AS BIGINT)"))
      .orderBy(col("lang"))
  }

  /** Corpus DIVERSITY report ([[CorpusPrep.diversityStats]]): per
    * source, exact distinct-unigram/bigram vocabularies and type-token
    * ratios — the repetitiveness/diversity signals compared across
    * corpus slices before mixing. One token explode + exact two-phase
    * count-distincts (vocabulary-bounded); `approx_count_distinct` is
    * the stated 100-TB swap. */
  def q150_diversity_stats(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.diversityStats(documents(s, dir), "text", "source", "doc_id")
      .orderBy(col("source"))

  /** SLIDING token windows ([[CorpusPrep.chunkTokensSliding]]) — the
    * GPT-2 eval-stride pattern: overlapping windows of 32 estimated
    * tokens advancing by 16, membership by start-offset containment.
    * The oracle replays the token rule, the per-doc offset window sum,
    * the k-range arithmetic, and the reassembly. */
  def q146_sliding_windows(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.chunkTokensSliding(documents(s, dir), "text", "doc_id",
        window = 32, stride = 16)
      .orderBy(col("doc_id"), col("window_idx"))

  /** TEMPERATURE-rebalanced mixture ([[CorpusPrep.temperatureMixture]],
    * the mT5/XLM-R sampling rule at alpha = 0.5): three unequal source
    * slices of the corpus, keep fractions derived as p^(alpha-1) and
    * normalized downsample-only — the smallest source keeps everything,
    * the bigger ones thin toward equalized shares. alpha = 0.5 keeps
    * the derivation bit-exact across engines (sqrt + division only), so
    * the oracle replays the WEIGHTS, the hash thresholds, and the exact
    * kept membership. Weights emitted as floor-micros (the fixed-point
    * compare discipline — round() half-up vs float-round differs across
    * engines). */
  def q145_temperature_mixture(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val a = docs.where(col("doc_id") % 6 < 3)
    val b = docs.where(col("doc_id") % 6 >= 3 && col("doc_id") % 6 < 5)
    val c = docs.where(col("doc_id") % 6 === 5)
    val (mixed, weights) = CorpusPrep.temperatureMixture(
      Seq("a" -> a, "b" -> b, "c" -> c), alpha = 0.5, "doc_id", seed = 7L)
    val sI = s; import sI.implicits._
    val wdf = weights.toDF("mix_source", "__w")
    mixed.groupBy(col("mix_source"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .join(broadcast(wdf), "mix_source")
      .select(col("mix_source"), col("n_docs"),
        floor(col("__w") * 1e6).cast("long").as("weight_micros"))
      .orderBy(col("mix_source"))
  }

  /** The QUALITY pipeline END TO END — the FineWeb/RefinedWeb-style
    * gate stack composed from the engine's own stages (the q119/q131/
    * q139 composition discipline): C4 line+page cleaning
    * ([[CorpusPrep.c4Filter]]) feeds its KEPT text into the Gopher
    * heuristic gate ([[TextFunctions.gopherPass]]), the LEARNED
    * logistic gate ([[TextFunctions.qualityLogit]] >= 0), and
    * keep-first exact dedup over the cleaned text — every doc returns
    * with all four flags (the auditable-gate contract; `survived` is
    * the conjunction + canonical-copy bit). Each stage is proven alone
    * (q138, q132, q140, q30); this proves they COMPOSE on the same
    * kept-text contract. Scale shape: gates are pure maps over the
    * C4 reassembly's id-keyed shuffle; dedup adds one fingerprint
    * shuffle — the corpus text never shuffles twice. */
  def q144_quality_pipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val w = derivedQualityWeights(1024)
    // the fixture text is punctuation-free word soup (every C4 line rule
    // would drop it) — build a deterministic PAGE per doc so each gate
    // has real work: a kept sentence from the doc's own words, a
    // boilerplate line the line rules drop, a stopword-rich two-sentence
    // tail on even ids (C4's >= 3-sentence page rule + Gopher's
    // stopword rule then split the corpus), and the lorem-ipsum page
    // poison on id % 7 (identical construction in the oracle)
    val page0 = concat(col("text"), lit(" one."),
      lit("\nshort bit"),
      when(col("doc_id") % 2 === 0,
        lit("\nit is good to be with that and have more of the words " +
          "here today. all good.")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")))
    // id % 11 == 3 docs all carry ONE identical gate-passing page — the
    // boilerplate-mirror case exact dedup exists for: they collapse to
    // a single canonical survivor (survived < all_pass, visibly)
    val page = when(col("doc_id") % 11 === 3,
      lit("the quality corpus material is good to be with that and " +
        "have more of the sentence words here today together. all of " +
        "the words are good and ready here. one more sentence is here " +
        "with them.")).otherwise(page0)
    val pages = documents(s, dir).select(col("doc_id"), page.as("text"))
    val c4 = CorpusPrep.c4Filter(pages, "text", "doc_id")
    val gated = c4.select(col("doc_id"), col("text"), col("c4_pass"),
      gopherPass(col("text"), minWords = 30).cast("int").as("gopher_pass"),
      (qualityLogit(col("text"), w) >= 0L).cast("int").as("q_pass"))
    val flagged = gated
      .withColumn("all_pass",
        (col("c4_pass") === 1 && col("gopher_pass") === 1 &&
          col("q_pass") === 1).cast("int"))
      .withColumn("__fp",
        when(col("all_pass") === 1, normalizedFingerprint(col("text"))))
    // canonical survivor = the min-id holder of each passing fingerprint,
    // as a partial-agg + broadcastable join: the previous
    // row_number-over-__fp window put every NON-passing doc (fp NULL)
    // into ONE unsplittable window partition — the degenerate-window
    // funnel (guide §2.5); min-per-fp ≡ row_number()==1 under the same
    // (doc_id) order, so `survived` is bit-identical. The gate pipeline
    // (C4 reconstruction + Gopher + logit) is checkpointed ONCE, narrow
    // (no text), so neither branch recomputes it (the shared-subtree
    // pruning gotcha — map-side branches have no exchange to reuse)
    val gatesCk = flagged.drop("text").transform(graft.operators.Materialize.ck)
    val first = gatesCk.where(col("all_pass") === 1)
      .groupBy(col("__fp")).agg(min(col("doc_id")).as("__first"))
    gatesCk
      .join(first, Seq("__fp"), "left")
      .withColumn("survived",
        (col("all_pass") === 1 && col("doc_id") === col("__first"))
          .cast("int"))
      .select(col("doc_id"), col("c4_pass"), col("gopher_pass"),
        col("q_pass"), col("survived"))
      .orderBy(col("doc_id"))
  }

  /** pHash CROP dedup — the fingerprint family's crop lane: smooth
    * scenes ([[Multimodal.smoothPngBytes]] — the real-photo case, where
    * noise fixtures would be the perceptual worst case) with cropped
    * copies planted ([[Multimodal.cropImages]]). Crops shift every grid
    * cell's pixel alignment, so dHash/byte dedup miss them; the DCT
    * low-frequency pHash ([[graft.plans.ImagePHash]], fixed-point
    * integer kernel — bit-exact on any host) pairs EXACTLY source/crop.
    * Measured distance bands on this fixture corpus: crop pairs <= 8
    * bits, closest cross-scene pair 12 bits — threshold 8 separates
    * them deterministically, and the structural oracle pins both recall
    * (every planted pair found) and precision (no cross-scene pair).
    * Same Hamming banding as every other fingerprint; chunks = 16 keeps
    * recall exact for distance <= 15. */
  def q143_phash_crop_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = documents(s, dir).select(col("doc_id"))
      .where(col("doc_id") < 60).as[Long]
      .map(id => graft.multimodal.MediaRecord(
        id, "image", Multimodal.smoothPngBytes(60, 60, id), "scene"))
    val planted = Multimodal.cropImages(base, margin = 1, idOffset = 100000L)
    graft.operators.Dedup.hammingPairs(
        Multimodal.imageHashes(base.union(planted)), "media_id", "phash",
        maxHamming = 8, chunks = 16)
      .select(col("id_a"), col("id_b"), lit(1).as("phash_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The VECTOR pipeline END TO END, composed from the engine's own
    * stages (q119's discipline for the ANN side of the house): exact
    * embedding near-dup pairs (broadcast sweep, native cosine) →
    * connected components + canonical keep ([[Dedup.keepCanonical]] —
    * the min-id member of each near-dup cluster survives) → SQ8-encode
    * the deduped corpus and serve top-k through the packed-byte kernel
    * with exact rerank ([[Similarity.sqTopK]]). Every stage is proven
    * in isolation (q43, q66, q128); this query proves they COMPOSE —
    * the oracle recomputes the whole pipeline (recursive closure for
    * components, brute-force ranking over the survivors) in DuckDB.
    * Scale shape: pair sweep broadcasts one side, components iterate
    * edge-sized joins, encode is map-only, serving reads 1 byte/dim.
    * NOTE — the exact all-pairs sweep here is the ORACLE-CHECKABLE
    * stage, not the recommended scale shape: at 100 TB swap it for
    * [[Dedup.semanticNearDup]] (bounded per-cell quadratic) or
    * [[Dedup.embeddingNearDupCapped]] (LSH with a hot-bucket guard);
    * the rest of the pipeline composes unchanged. */
  def q131_ann_pipeline(s: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarity.register(s)
    graft.plans.Sq8Cosine.register(s)
    val e = embeddings(s, dir)
    val cos = call_function(graft.plans.CosineSimilarity.name,
      col("va"), col("vb"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= 0.45)
    val canon = Dedup.keepCanonical(e, "vec_id", pairs)
    val q = canon.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(canon, q, "embedding", "vec_id",
      k = 10, native = true)
    val ann = Similarity.sqTopK(s, canon, q, "embedding", "vec_id",
      k = 10, rerank = 30, native = true)
    annRecallForm(exact, ann, target = 0.6)
  }

  /** NESTED struct-field DDL through the same metadata-only surface as
    * q118/q121: `ADD COLUMNS (info.rank)` and `DROP COLUMN info.bal`
    * each commit ONE manifest version owning zero data files at any
    * table size — old files read the added field as null and stop
    * projecting the dropped one (parquet missing-field semantics /
    * schema pruning); the resurrection blocklist carries the DOTTED
    * path. Two phases: `pre_drop` (VERSION AS OF, the dropped nested
    * field's values aggregated — per-version schema) and `current`
    * (post-drop, the added field filled by a whole-struct UPDATE).
    * `nested_ok` pins: both ALTER versions own zero files, the current
    * struct is (seg, rank), time travel to v0 shows (seg, bal). */
  def q130_nested_ddl(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q130-wh").toString
    val cat = "gq130_" + java.lang.Long.toHexString(System.nanoTime())
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", wh)
    customer(s, dir).createOrReplaceTempView("q130_cust_src")
    s.sql(s"""CREATE TABLE $cat.ns.nd (c_custkey BIGINT,
              info STRUCT<seg: STRING, bal: BIGINT>)
              USING graft TBLPROPERTIES ('key' = 'c_custkey')""")
    s.sql(s"""INSERT INTO $cat.ns.nd
              SELECT c_custkey,
                     named_struct('seg', c_mktsegment, 'bal', c_custkey % 1000)
              FROM q130_cust_src""")                                  // v0
    s.sql(s"ALTER TABLE $cat.ns.nd ADD COLUMNS (info.rank BIGINT)")  // v1
    s.sql(s"""UPDATE $cat.ns.nd
              SET info = named_struct('seg', info.seg, 'bal', info.bal,
                                      'rank', c_custkey % 100)
              WHERE c_custkey % 13 = 0""")                            // v2
    s.sql(s"ALTER TABLE $cat.ns.nd DROP COLUMN info.bal")            // v3
    def owns(v: Int): Int = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$wh/ns/nd/v$v"))
      try st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally st.close()
    }
    def fieldsOf(df: DataFrame): Seq[String] = df.schema("info").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    val nestedOk =
      if (owns(1) == 0 && owns(3) == 0 &&
          fieldsOf(s.sql(s"SELECT * FROM $cat.ns.nd")) == Seq("seg", "rank") &&
          fieldsOf(s.sql(s"SELECT * FROM $cat.ns.nd VERSION AS OF 0")) ==
            Seq("seg", "bal")) 1 else 0
    s.sql(s"""
      SELECT 'pre_drop' AS phase, info.seg AS seg,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(info.rank) AS BIGINT) AS rank_sum,
             CAST(sum(info.bal) AS BIGINT) AS bal_sum,
             CAST($nestedOk AS INT) AS nested_ok
      FROM $cat.ns.nd VERSION AS OF 2 GROUP BY info.seg
      UNION ALL
      SELECT 'current', info.seg, CAST(count(*) AS BIGINT),
             CAST(sum(info.rank) AS BIGINT), CAST(NULL AS BIGINT),
             CAST($nestedOk AS INT)
      FROM $cat.ns.nd GROUP BY info.seg""").orderBy(col("phase"), col("seg"))
  }

  /** Corpus text normalization ([[TextFunctions.cleanText]]): NFC
    * composition (native codegen'd expression — Spark has none built
    * in), control/format-character strip, whitespace collapse, trim —
    * the standard pre-dedup cleaning stage. The fixture text is clean
    * ASCII, so the query injects deterministic dirt (vertical tab,
    * double spaces, a DECOMPOSED e+U+0301, an SOH control, a zero-width
    * space) that both engines construct identically — the oracle then
    * exercises every rule, not the identity path. Map-side only. */
  def q129_clean_text(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.cleanText(concat(
          lit("\u000b "), col("text"),
          lit("  e\u0301 \u0001tail \u200bz"))).as("cleaned"))
      .withColumn("n_chars_clean", length(col("cleaned")).cast("int"))
      .orderBy(col("doc_id"))

  /** The training-corpus pipeline END TO END, composed from the engine's
    * own stages: quality gate (token count), exact content dedup
    * (keep-first by normalized fingerprint), eval-set decontamination
    * (5-shingle overlap ≥ 3 drops the doc), then the per-language corpus
    * accounting a dataset card reports. Every stage is an operator the
    * suite already proves in isolation — this query proves they COMPOSE
    * (the oracle recomputes the whole pipeline relationally in DuckDB).
    * Scale shape: gate+fingerprint are map-side, dedup is one
    * fingerprint shuffle, decontamination broadcasts the eval shingles
    * and anti-joins a broadcast of the (small) contaminated-id set —
    * the corpus is never shuffled whole. */
  def q119_corpus_pipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // 1) quality gate: ≥ 5 tokens (the shared tokenizer semantics)
    val gated = docs
      .withColumn("__nt", TextFunctions.tokenCount(col("text")))
      .where(col("__nt") >= 5)
    // 2) exact content dedup, keep-first by doc id
    val deduped = Dedup.exact(gated, "text", "doc_id")
    // 3) decontamination vs the q75 eval slice, same shingles/threshold
    val eval = docs.where(col("doc_id") % 17 === 0)
    val survivors = CorpusPrep.decontaminate(
      deduped, eval, "text", "doc_id", k = 5, minOverlap = 3L)
    survivors.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("__nt")).as("total_tokens"))
      .orderBy(col("lang"))
  }

  /** Exact-substring dedup signal: per-document counts of word-5-shingles
    * duplicated across distinct documents (cross-document repeated spans).
    * One gram-keyed shuffle into a join-free count window, one per-doc
    * partial agg — integer emission only (no derived-double rounding). */
  def q95_dup_ngrams(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedNgramStats(documents(s, dir), "text", "doc_id", k = 5)
      .orderBy(col("doc_id"))

  /** Schema evolution through the CoW merge: the batch carries a NEW
    * column (`vip_rank`), which becomes a nullable table column — old
    * passthrough files read it as null (parquet missing-column
    * semantics), rewritten files carry it physically, and the manifest
    * commits the evolved schema so the mixed-physical snapshot reads
    * uniformly. */
  def q91_schema_evolution(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val work = java.nio.file.Files.createTempDirectory("graft-q91").toString
    val base = s"$work/base"
    graft.sources.ParquetTable.writeSorted(c, base, "c_custkey", 6)
    // batch keys clustered in a fixed low range so the dirty files stay a
    // strict subset at every fixture scale (scattered every-Nth keys
    // would dirty the whole table once keys-per-file < N)
    val batch = c
      .where(col("c_custkey") % 100 === 0 && col("c_custkey") <= 1000L)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .withColumn("vip_rank", (col("c_custkey") / 100).cast("long"))
      .withColumn("op", lit("upsert"))
    val t = graft.sources.MutableParquetTable(s, base, "c_custkey")
    val res = t.merge(batch, snapshotDir = Some(s"$work/v1"))
    require(res.passthroughFiles.nonEmpty,
      "evolution must not force a full rewrite")
    graft.sources.MutableParquetTable.readCommitted(s, res.snapshotDir)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("bal"), col("vip_rank"))
      .orderBy(col("c_custkey"))
  }

  /** CSV ingest with explicit schema (no inference scan) → aggregation.
    * The CSV fixture is derived once per orders.parquet (content-keyed
    * cache); the oracle computes the same aggregate from the parquet
    * directly, so the whole text round-trip (doubles, dates) must be
    * lossless. */
  def q69_csv_ingest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val cdir = cachedDerivedDir(dir, "orders.parquet", "csv-orders") { out =>
      orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .coalesce(4)
        .write.option("header", "true").mode("overwrite").csv(out)
    }
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType),
      StructField("o_orderpriority", StringType)))
    graft.sources.Ingest.csv(s, cdir, Some(schema))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_date"))
      .orderBy(col("o_orderstatus"))
  }

  /** JSON-lines ingest with explicit schema → aggregation; oracle from
    * the parquet events table (ts carried as a formatted string through
    * the text round-trip). */
  def q70_json_ingest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val jdir = cachedDerivedDir(dir, "events.parquet", "json-events") { out =>
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), date_format(col("ts"), fmtS).as("ts_s"))
        .coalesce(4)
        .write.mode("overwrite").json(out)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts_s", StringType)))
    graft.sources.Ingest.json(s, jdir, Some(schema))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("ts_s")).as("first_ts"))
      .orderBy(col("event_type"))
  }

  /** Native session_window operator (batch form; the streaming form is
    * exercised in StreamingSpec). Oracle is the equivalent
    * gaps-and-islands SQL — semantics must coincide exactly. */
  def q52_session_window(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), fmtS).as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Native aggregate: exact top-3 orders per status via [[Udx.topK]]
    * (the bounded top-k [[graft.plans.TopKAggregate]]: map-side partial
    * top-k, at most k entries per group shuffled). */
  def q49_topk_udaf(s: SparkSession, dir: String): DataFrame = {
    val top3 = Udx.topK(3)
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderstatus"), posexplode(col("top")))
      .select(col("o_orderstatus"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("o_orderkey"),
        round(col("col.score"), 2).as("o_totalprice"))
      .orderBy(col("o_orderstatus"), col("rank"))
  }

  /** Scalar UDF (black-box Scala fn on the driver contract surface). */
  def q50_scalar_udf(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .select(col("c_custkey"),
        round(Udx.sigmoid(col("c_acctbal") / 1000.0), 6).as("sig"))
      .orderBy(col("c_custkey"))

  /** Table function (generator): one row per 5-word shingle w/ position. */
  def q51_udtf_shingles(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .where(col("doc_id") < 3)
      .select(col("doc_id"), Udx.explodeShingles(col("text"), 5))
      .select(col("doc_id"), col("pos").cast("int").as("pos"),
        col("col").as("shingle"))
      .orderBy(col("doc_id"), col("pos"))

  /** Parquet footer/row-group stats surface (zone-map inspection). */
  def q48_rowgroup_stats(s: SparkSession, dir: String): DataFrame =
    graft.sources.ParquetStats.rowGroupStats(s, s"$dir/lineitem.parquet")
      .select(col("rowGroup").as("row_group"), col("rowCount").as("row_count"))
      .orderBy(col("row_group"))

  /** PII scrub over synthetic contact lines: email + phone redaction with
    * occurrence counts ([[graft.functions.TextFunctions.redactPii]]). The
    * PII-bearing text is constructed deterministically inside the query
    * (the fixture corpus has none), and BOTH engines redact independently
    * with the same RE2-compatible patterns — the oracle checks the scrub
    * itself, not a precomputed answer. */
  def q71_pii_redact(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(
      substring(col("text"), 1, 40),
      lit(" reach user"), col("doc_id").cast("string"),
      lit("@mail.example or +1-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
      lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    documents(s, dir)
      .select(col("doc_id"), contact.as("contact"))
      .select(col("doc_id"),
        TextFunctions.emailCount(col("contact")).as("n_emails"),
        TextFunctions.phoneCount(col("contact")).as("n_phones"),
        TextFunctions.redactPii(col("contact")).as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Symmetric int8 embedding quantization + L2 reconstruction error
    * ([[graft.functions.VectorFunctions]]). The quantized vector is
    * emitted as a comma-joined string so the oracle verifies every
    * element; rounding is explicit half-up via floor(x+0.5), portable
    * across engines. */
  def q72_embed_quantize(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      // the working column must NOT share a name with the rounded output
      // alias: Spark 4 lateral column aliases would resolve col("scale")
      // in the sibling expressions to the ROUNDED alias, silently
      // quantizing against a 6-decimal scale
      .withColumn("__scale", VectorFunctions.int8Scale(col("embedding")))
      .select(col("vec_id"),
        round(col("__scale"), 6).as("scale"),
        array_join(VectorFunctions.int8Quantize(col("embedding"), col("__scale")),
          ",").as("q_str"),
        round(VectorFunctions.int8ReconError(col("embedding"), col("__scale")),
          6).as("recon_err"))
      .orderBy(col("vec_id"))

  /** Deterministic hash sampling: keep rows whose md5 of the composite
    * key starts below 0x1a (~10.2%), then aggregate the sample. Unlike
    * seeded `sample()`, the md5 rule is engine-portable, stable under
    * repartitioning, and consistent across tables sharing the key —
    * the standard way to cut a reproducible corpus slice at 100 TB. */
  def q73_hash_sample(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(substring(md5(concat_ws(":",
        col("l_orderkey"), col("l_linenumber"))), 1, 2) < "1a")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
      .orderBy(col("l_returnflag"))

  /** Z-order-clustered scan ([[graft.sources.ZOrder]]): lineitem laid out
    * on the Morton curve of (l_partkey, l_suppkey), then filtered on the
    * SECOND dimension — the case a single-key sort cannot prune. The
    * oracle recomputes from the raw table, so the curve layout must
    * round-trip the data exactly; ZOrderSpec asserts the pruning wins. */
  def q74_zorder_scan(s: SparkSession, dir: String): DataFrame = {
    val zdir = cachedDerivedDir(dir, "lineitem.parquet", "zorder-lineitem-m") { out =>
      graft.sources.ZOrder.writeZOrdered(lineitem(s, dir), out,
        Seq("l_partkey", "l_suppkey"), 4,
        graft.sources.ParquetLayout(rowGroupBytes = Some(256 * 1024)))
      // commit + attach BOTH curve dims' per-file ranges: the graft scan
      // then file-prunes on l_suppkey (the second dimension) before any
      // data IO — file-level zone maps above parquet's row-group skip
      graft.sources.MutableParquetTable(s, out, "l_partkey").commitManifest(out)
      graft.sources.MutableParquetTable.attachDimRanges(s, out,
        Seq("l_partkey", "l_suppkey"))
    }
    s.read.format("graft").load(zdir)
      .where(col("l_suppkey").between(2, 4))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
      .orderBy(col("l_returnflag"))
  }

  /** Eval-set decontamination ([[graft.operators.CorpusPrep.overlapCounts]]):
    * every 17th document stands in for a benchmark; a doc sharing >= 3
    * distinct 5-shingles with the eval set is contaminated. The eval side is
    * distinct'd and broadcast, so the corpus never shuffles on shingles. */
  def q75_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val eval = docs.where(col("doc_id") % 17 === 0)
    val hits = CorpusPrep.overlapCounts(docs, eval, "text", "doc_id", 5)
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= 3).cast("int").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals
    * ([[graft.operators.CorpusPrep.repetitionStats]]): duplicate-word ratio
    * is a map-side HOF; the top-trigram fraction needs the per-doc mode,
    * two partial-combining aggregations keyed (doc, gram) then doc. */
  def q76_repetition(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.repetitionStats(documents(s, dir), "text", "doc_id")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("dup_word_ratio"), col("top_trigram_frac"))
      .orderBy(col("doc_id"))

  /** Context-window chunking ([[graft.operators.CorpusPrep.chunkWords]]):
    * 40-token windows advancing by 30 — the stride split a tokenizer feeds
    * from. Pure per-row HOF explosion, no shuffle at all. */
  def q77_chunk_words(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.chunkWords(documents(s, dir).where(col("doc_id") < 200),
        "text", "doc_id", 40, 30)
      .select(col("doc_id"), col("chunk_idx"),
        col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Concat-then-slice sequence packing
    * ([[graft.operators.CorpusPrep.packConcat]]): absolute token offsets
    * come from a distributed prefix sum (range buckets + parallel windows +
    * broadcast bucket offsets) — NOT a global single-task window; the
    * oracle's `sum() OVER (ORDER BY ...)` is the semantics being matched,
    * not the plan. */
  def q78_pack(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.packConcat(
      documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", 512, nBuckets = 32)
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        col("pack_first"), col("pack_last"))
      .orderBy(col("doc_id"))

  /** Salient terms per document
    * ([[graft.operators.CorpusPrep.tfidfTopTerms]]). Ranking key is integer
    * (tf desc, docfreq asc, term) so both engines rank identically; the
    * float tf-idf score rides along rounded. */
  def q79_tfidf_topterms(s: SparkSession, dir: String): DataFrame =
    CorpusPrep.tfidfTopTerms(documents(s, dir), "text", "doc_id", 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))

  /** ORC ingest round-trip ([[graft.sources.Ingest.orc]]): orders lands as
    * ORC once (content-keyed cache), is read back through the native
    * vectorized ORC reader, and aggregated; the oracle computes the same
    * aggregate from the parquet directly, so the ORC round-trip (doubles,
    * dates) must be lossless. */
  def q80_orc_ingest(s: SparkSession, dir: String): DataFrame = {
    val odir = cachedDerivedDir(dir, "orders.parquet", "orc-orders") { out =>
      graft.sources.Ingest.toOrc(
        orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"), col("o_orderdate")),
        out)
    }
    graft.sources.Ingest.orc(s, odir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_date"))
      .orderBy(col("o_orderpriority"))
  }

  /** AVRO ingest round-trip ([[graft.sources.Ingest.toAvro]]/
    * [[graft.sources.Ingest.avro]]): orders lands as zstd Avro object
    * container files once (content-keyed cache), is read back through
    * the container reader (one partition per file), and aggregated;
    * the oracle computes the same aggregate from the parquet directly,
    * so the Avro round-trip (longs, doubles, the date logical type,
    * [null,T] unions) must be lossless — the q80 ORC discipline for
    * the remaining interchange format (Spark ships the Avro library
    * but not the spark-avro DataSource; see Ingest's container-file
    * scaladoc). */
  def q214_avro_ingest(s: SparkSession, dir: String): DataFrame = {
    val adir = cachedDerivedDir(dir, "orders.parquet", "avro-orders") { out =>
      graft.sources.Ingest.toAvro(
        orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"), col("o_orderdate")),
        out)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_SUCCESS"))
    }
    graft.sources.Ingest.avro(s, adir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_date"))
      .orderBy(col("o_orderpriority"))
  }

  /** The q81/q82 fixture: a versioned (doc_id, lang, tok) table with one
    * committed mutation batch — every 10th doc's lang upserted to 'xx',
    * every 7th-mod-3 doc deleted (upsert wins on overlap). */
  private def cdcDocsTable(s: SparkSession, dir: String): String =
    cachedDerivedDir(dir, "documents.parquet", "cdc-docs-v3") { out =>
      val src = documents(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
      val t = graft.GraftTable.create(src, out, "doc_id", numFiles = 4)
      val batch = src
        .where(col("doc_id") % 10 === 0 || col("doc_id") % 7 === 3)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, lit("xx")).otherwise(col("lang"))
            .as("lang"),
          col("tok"),
          when(col("doc_id") % 10 === 0, lit("upsert")).otherwise(lit("delete"))
            .as("op"))
      t.commit(batch)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_SUCCESS"))
    }

  /** Change-data feed over a versioned table ([[graft.GraftTable]] /
    * [[graft.streaming.CdcMergeSink.changeFeed]]), flattened. The oracle
    * derives the exact expected diff from the raw documents table, so
    * routing, CoW, manifest commit, AND the delta-pruned diff must all
    * compose correctly to hash-match. */
  def q81_change_feed(s: SparkSession, dir: String): DataFrame =
    graft.GraftTable(s, cdcDocsTable(s, dir), "doc_id").changeFeed(-1L, 0L)
      .select(col("doc_id"), col("change_type"),
        col("before.lang").as("before_lang"), col("after.lang").as("after_lang"))
      .orderBy(col("doc_id"))

  /** Materialized aggregate view ([[graft.streaming.AggView]]) over the
    * same versioned table: maintained INCREMENTALLY (seed + one change-feed
    * delta), while the oracle aggregates the mutated final state from
    * scratch — the retraction/insertion algebra must agree exactly. */
  def q82_agg_view(s: SparkSession, dir: String): DataFrame = {
    val t = graft.GraftTable(s, cdcDocsTable(s, dir), "doc_id")
    t.refreshAggView(Seq("lang"), Seq("tok"), extremaCols = Seq("tok"))
    t.readAggView()
      .select(col("lang"), col("cnt"), col("sum_tok"),
        col("min_tok"), col("max_tok"))
      .orderBy(col("lang"))
  }

  /** INCREMENTAL HLL MAINTENANCE ([[graft.operators.IncrementalAgg
    * .applyDeltaWithHll]]): the per-(lang) distinct-token-count sketch
    * column maintained from the SAME change feed q81 exposes — inserts
    * merge into the stored sketch (union linearity, the property q201
    * pins, now operational), retractions rescan ONLY their group. The
    * delta-maintained estimate must EQUAL the full recompute's
    * (`delta_eq_full` pinned 1) and sit within ε of the exact distinct
    * (`within_eps` pinned 1 — the domain here is far under lgK=12's
    * saturation, so the sketch is exact); the oracle recomputes cnt
    * and the exact distinct from the mutated final state. */
  def q215_hll_incremental(s: SparkSession, dir: String): DataFrame = {
    val t = graft.GraftTable(s, cdcDocsTable(s, dir), "doc_id")
    val prev = graft.operators.IncrementalAgg.fullAggWithHll(t.readAsOf(-1L),
      Seq("lang"), "tok")
    val cur = t.read()
    val delta = graft.operators.IncrementalAgg.applyDeltaWithHll(prev,
      t.changeFeed(-1L, 0L), cur, Seq("lang"), "tok")
    val full = graft.operators.IncrementalAgg.fullAggWithHll(cur, Seq("lang"), "tok")
    val exact = cur.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("n_exact"))
    delta.select(col("lang"), col("cnt"),
        hll_sketch_estimate(col("hll_tok")).as("__ed"))
      .join(full.select(col("lang"),
        hll_sketch_estimate(col("hll_tok")).as("__ef")), Seq("lang"))
      .join(exact, Seq("lang"))
      .select(col("lang"), col("cnt"), col("n_exact"),
        (col("__ed") === col("__ef")).cast("int").as("delta_eq_full"),
        (abs(col("__ef") - col("n_exact").cast("double")) /
          col("n_exact") <= 0.05).cast("int").as("within_eps"))
      .orderBy(col("lang"))
  }

  /** INCREMENTAL QUANTILE-SKETCH MAINTENANCE
    * ([[graft.operators.IncrementalAgg.applyDeltaWithQuantile]] over
    * the [[graft.functions.Udx.quantileSample]] bottom-k sample): the
    * per-(lang) percentile state maintained from the SAME change feed
    * q81 exposes — inserts merge at sketch cost, retractions rescan
    * only their group (the q215 HLL asymmetry, now for order
    * statistics). Emits the delta-maintained p50/p90 ESTIMATES (the
    * sketch is merge-order independent and hash-driven, so the oracle
    * replays them EXACTLY from the final state — stronger than a
    * pinned envelope), the exact rank anchors, `delta_eq_full`
    * (delta-maintained sketch ≡ full recompute, exact array equality)
    * and the DKW rank-ε flags (ε = 0.15 at k = 256: miss probability
    * 2e-5), which both engines COMPUTE identically rather than pin. */
  def q223_quantile_incremental(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Udx
    import graft.operators.IncrementalAgg
    val k = 256
    val t = graft.GraftTable(s, cdcDocsTable(s, dir), "doc_id")
    val prev = IncrementalAgg.fullAggWithQuantile(t.readAsOf(-1L),
      Seq("lang"), "tok", "doc_id", k)
    val cur = t.read()
    val delta = IncrementalAgg.applyDeltaWithQuantile(prev,
      t.changeFeed(-1L, 0L), cur, Seq("lang"), "tok", "doc_id", k)
    val full = IncrementalAgg.fullAggWithQuantile(cur,
      Seq("lang"), "tok", "doc_id", k)
    val est = delta.select(col("lang"), col("cnt"),
        Udx.quantileSampleEstimate(col("qsk_tok"), 500000L).as("__e50"),
        Udx.quantileSampleEstimate(col("qsk_tok"), 900000L).as("__e90"),
        col("qsk_tok").as("__dsk"))
      .join(full.select(col("lang"), col("qsk_tok").as("__fsk")),
        Seq("lang"))
    val exact = cur.groupBy(col("lang"))
      .agg(sort_array(collect_list(col("tok").cast("double"))).as("__all"))
    est.join(exact, Seq("lang"))
      .select(col("lang"), col("cnt"),
        expr("CAST(floor(__e50 * 1e6) AS BIGINT)").as("est_p50_micros"),
        expr("CAST(floor(__e90 * 1e6) AS BIGINT)").as("est_p90_micros"),
        expr("CAST(floor(element_at(__all, CAST((cnt + 1) DIV 2 AS INT)) " +
          "* 1e6) AS BIGINT)").as("exact_p50_micros"),
        expr("CAST(floor(element_at(__all, CAST((9 * cnt + 9) DIV 10 AS " +
          "INT)) * 1e6) AS BIGINT)").as("exact_p90_micros"),
        (col("__dsk") === col("__fsk")).cast("int").as("delta_eq_full"),
        expr("CAST(20 * abs(size(filter(__all, x -> x <= __e50)) - " +
          "(cnt + 1) DIV 2) <= 3 * cnt AS INT)").as("eps50_ok"),
        expr("CAST(20 * abs(size(filter(__all, x -> x <= __e90)) - " +
          "(9 * cnt + 9) DIV 10) <= 3 * cnt AS INT)").as("eps90_ok"))
      .orderBy(col("lang"))
  }

  /** GENERATED / DEFAULT COLUMNS ([[graft.sources.GraftDefaults]], the
    * lakehouse column-contract DDL): a table created with
    * `DEFAULT src_tag = 'web'` and `GENERATED ALWAYS AS tok_bucket =
    * tok DIV 16`, then mutated by (1) a batch OMITTING both contract
    * columns — default filled, generated computed from the batch's own
    * tok — and (2) a batch explicitly supplying `src_tag = 'manual'`
    * (defaults govern omission only) while still omitting the
    * generated column. The oracle recomputes the mutated final state
    * AND both contract columns from the rules alone, so hash-matching
    * proves fill-on-omission, generated recomputation, supplied-value
    * precedence, and contract carriage across three commits. */
  def q225_generated_columns(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val src = documents(s, dir).select(col("doc_id"), col("lang"),
      TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-gencol").toString + "/t"
    val t = graft.GraftTable.create(src, root, "doc_id", numFiles = 4,
      defaults = Map("src_tag" -> "'web'"),
      generated = Map("tok_bucket" -> "CAST(tok DIV 16 AS BIGINT)"))
    // batch 1: every 5th doc re-upserted with tok+100, BOTH contract
    // columns omitted
    t.commit(src.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        (col("tok") + 100L).as("tok"), lit("upsert").as("op")))
    // batch 2: every 7th doc supplies src_tag explicitly (tok kept)
    t.commit(src.where(col("doc_id") % 7 === 3)
      .select(col("doc_id"), col("lang"), col("tok"),
        lit("manual").as("src_tag"), lit("upsert").as("op")))
    t.read()
      .select(col("doc_id"), col("lang"), col("tok"), col("src_tag"),
        col("tok_bucket"))
      .orderBy(col("doc_id"))
  }

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT
    * ([[CorpusPrep.weightedSample]], deterministic A-ES): per-language
    * quality-weighted selection with weight = n_tokens − 2 (so short
    * docs carry NON-positive weights and exercise the never-sampled
    * path). The oracle replays the spread hash, the single
    * exact-integer-ratio ln, the floor-micros key, and the (key desc,
    * id) top-20 membership verbatim — nothing pinned. */
  def q224_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = documents(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("__w", (col("n_tokens") - 2).cast("double"))
    CorpusPrep.weightedSample(docs, "lang", "__w", "doc_id",
        k = 20, seed = 7L)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("sample_key_micros"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Skew-safe grouped top-k ([[graft.operators.Skew.saltedTopKPerKey]]):
    * top-3 orders per customer through the salted two-stage reduction —
    * per-final-task rows bounded by k·buckets however hot the key. The
    * oracle is a plain ranking window: the salted plan must produce the
    * identical ranking. */
  def q83_salted_topk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedTopKPerKey(
        orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice")),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .select(col("o_custkey"), col("rank").cast("int").as("rank"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"), col("rank"))

  /** Hot-key as-of join ([[graft.operators.AsOfJoin.backwardBucketed]]):
    * q61's semantics through the two-pass (key, time-bucket) variant that
    * spreads a hot key over its time buckets — same DuckDB ASOF oracle,
    * so both formulations must agree exactly. */
  def q84_asof_bucketed(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val views = e.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOfJoin.backwardBucketed(views, purchases,
        "user_id", "user_id", "ts", "ts", bucketSeconds = 6 * 3600)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), fmtS).as("view_ts"),
        date_format(col("asof_ts"), fmtS).as("purchase_ts"),
        round(col("asof_value"), 2).as("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of join through the hot-key bucketed variant
    * ([[graft.operators.AsOfJoin.forwardBucketed]]): each view matched to
    * the user's NEXT purchase at-or-after it; oracle is DuckDB ASOF with
    * the `<=` comparator — independent implementations again. */
  def q85_asof_forward(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val views = e.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsOfJoin.forwardBucketed(views, purchases,
        "user_id", "user_id", "ts", "ts", bucketSeconds = 6 * 3600)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), fmtS).as("view_ts"),
        date_format(col("asof_ts"), fmtS).as("purchase_ts"),
        round(col("asof_value"), 2).as("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** Source-domain filtering — the corpus-prep stage between ingest and
    * dedup: parse the source URL's host, drop blocklisted domains, profile
    * what remains. URLs are synthesized deterministically (the fixture has
    * none) and BOTH engines parse them independently with the same regex. */
  def q86_domain_filter(s: SparkSession, dir: String): DataFrame = {
    val host = element_at(array(Seq("en.wikipedia.org", "github.com",
      "spam.example.com", "blog.example.net", "arxiv.org").map(lit): _*),
      (col("doc_id") % 5 + 1).cast("int"))
    val url = concat(lit("https://"), host, lit("/doc/"),
      col("doc_id").cast("string"))
    val blocklist = Seq("spam.example.com", "ads.example.org")
    documents(s, dir)
      .select(col("doc_id"), url.as("url"))
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
      .where(!col("domain").isin(blocklist: _*))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("domain"))
  }

  /** The `graft` SQL data source end-to-end: a versioned table built from
    * documents (key = doc_id), one committed CoW mutation batch, read back
    * through `spark.read.format("graft")` with a key-range predicate — the
    * filter prunes manifest files before any data IO, parquet row-group
    * stats prune again inside the kept files, and Catalyst re-applies the
    * residual filter above the relation. The oracle recomputes the merged
    * state from the raw table, so routing + CoW + manifest + source
    * pushdown must all compose to hash-match. */
  def q87_source_read(s: SparkSession, dir: String): DataFrame = {
    val work = cachedDerivedDir(dir, "documents.parquet", "graftsrc") { out =>
      val docs = documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val t = GraftTable.create(docs, out, "doc_id", numFiles = 8)
      val ups = docs.where(col("doc_id") % 9 === 0)
        .withColumn("lang", lit("zz")).withColumn("op", lit("upsert"))
      val dels = docs.where(col("doc_id") % 9 =!= 0 && col("doc_id") % 11 === 5)
        .withColumn("op", lit("delete"))
      t.commit(ups.unionByName(dels))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_SUCCESS"))
    }
    s.read.format("graft").load(work)
      .where(col("doc_id") >= 100L && col("doc_id") <= 350L)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Bigram LM perplexity over the documents corpus
    * ([[graft.operators.CorpusPrep.lmPerplexity]]): add-k-smoothed counts
    * trained on the corpus itself, every doc scored by avg bigram NLL.
    * The oracle retrains the identical model in SQL — counts, prefix
    * window, vocabulary and the smoothing algebra must all agree. */
  def q88_lm_perplexity(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPrep.lmPerplexity(documents(s, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Deterministic stratified sampling
    * ([[graft.operators.CorpusPrep.stratifiedSample]]): exact per-source
    * quotas by md5 rank — the training-mixture builder. Skew-safe (salted
    * two-stage top-k); the oracle ranks with the same md5 in DuckDB. */
  def q89_stratified_sample(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPrep.stratifiedSample(
        documents(s, dir).select(col("doc_id"), col("source"), col("lang")),
        "source", "doc_id", quota = 20)
      .select(col("source"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("lang"))
      .orderBy(col("source"), col("rank"))

  // ---- registry -----------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_pricing" -> (q01_agg_pricing _),
    "q02_filter_project" -> (q02_filter_project _),
    "q03_topk" -> (q03_topk _),
    "q04_join_broadcast" -> (q04_join_broadcast _),
    "q05_join_agg" -> (q05_join_agg _),
    "q06_semi_join" -> (q06_semi_join _),
    "q07_anti_join" -> (q07_anti_join _),
    "q08_outer_join" -> (q08_outer_join _),
    "q09_full_outer" -> (q09_full_outer _),
    "q10_theta_join" -> (q10_theta_join _),
    "q11_distinct_agg" -> (q11_distinct_agg _),
    "q12_rollup" -> (q12_rollup _),
    "q13_cube" -> (q13_cube _),
    "q14_grouping_sets" -> (q14_grouping_sets _),
    "q15_window_rank" -> (q15_window_rank _),
    "q16_window_running" -> (q16_window_running _),
    "q17_window_range" -> (q17_window_range _),
    "q18_window_lag" -> (q18_window_lag _),
    "q19_union" -> (q19_union _),
    "q20_intersect" -> (q20_intersect _),
    "q21_except" -> (q21_except _),
    "q22_string_funcs" -> (q22_string_funcs _),
    "q23_date_funcs" -> (q23_date_funcs _),
    "q24_math_funcs" -> (q24_math_funcs _),
    "q25_array_funcs" -> (q25_array_funcs _),
    "q26_json_funcs" -> (q26_json_funcs _),
    "q27_merge_mutations" -> (q27_merge_mutations _),
    "q28_merge_delete" -> (q28_merge_delete _),
    "q29_merge_upsert" -> (q29_merge_upsert _),
    "q30_dedup_exact" -> (q30_dedup_exact _),
    "q31_fingerprint" -> (q31_fingerprint _),
    "q32_text_stats" -> (q32_text_stats _),
    "q33_langid" -> (q33_langid _),
    "q34_ngram_jaccard" -> (q34_ngram_jaccard _),
    "q35_cosine_topk" -> (q35_cosine_topk _),
    "q36_tumbling_window" -> (q36_tumbling_window _),
    "q37_sliding_window" -> (q37_sliding_window _),
    "q38_sessionize" -> (q38_sessionize _),
    "q39_first_event" -> (q39_first_event _),
    "q40_approx_distinct" -> (q40_approx_distinct _),
    "q41_minhash_pairs" -> (q41_minhash_pairs _),
    "q42_simhash_pairs" -> (q42_simhash_pairs _),
    "q43_embedding_neardup" -> (q43_embedding_neardup _),
    "q44_lsh_topk" -> (q44_lsh_topk _),
    "q45_ivf_topk" -> (q45_ivf_topk _),
    "q46_rolling_fingerprint" -> (q46_rolling_fingerprint _),
    "q47_multimodal_features" -> (q47_multimodal_features _),
    "q48_rowgroup_stats" -> (q48_rowgroup_stats _),
    "q49_topk_udaf" -> (q49_topk_udaf _),
    "q50_scalar_udf" -> (q50_scalar_udf _),
    "q51_udtf_shingles" -> (q51_udtf_shingles _),
    "q52_session_window" -> (q52_session_window _),
    "q53_conditional_funcs" -> (q53_conditional_funcs _),
    "q54_datetime_parts" -> (q54_datetime_parts _),
    "q55_string_extended" -> (q55_string_extended _),
    "q56_pivot" -> (q56_pivot _),
    "q57_unpivot" -> (q57_unpivot _),
    "q58_stats_agg" -> (q58_stats_agg _),
    "q59_percentiles" -> (q59_percentiles _),
    "q60_partition_prune" -> (q60_partition_prune _),
    "q61_asof_join" -> (q61_asof_join _),
    "q62_range_join" -> (q62_range_join _),
    "q63_gapfill" -> (q63_gapfill _),
    "q64_window_distribution" -> (q64_window_distribution _),
    "q65_json_map" -> (q65_json_map _),
    "q66_neardup_dedup" -> (q66_neardup_dedup _),
    "q67_conditional_agg" -> (q67_conditional_agg _),
    "q68_uuid_merge" -> (q68_uuid_merge _),
    "q69_csv_ingest" -> (q69_csv_ingest _),
    "q70_json_ingest" -> (q70_json_ingest _),
    "q71_pii_redact" -> (q71_pii_redact _),
    "q72_embed_quantize" -> (q72_embed_quantize _),
    "q73_hash_sample" -> (q73_hash_sample _),
    "q74_zorder_scan" -> (q74_zorder_scan _),
    "q75_decontaminate" -> (q75_decontaminate _),
    "q76_repetition" -> (q76_repetition _),
    "q77_chunk_words" -> (q77_chunk_words _),
    "q78_pack" -> (q78_pack _),
    "q79_tfidf_topterms" -> (q79_tfidf_topterms _),
    "q80_orc_ingest" -> (q80_orc_ingest _),
    "q81_change_feed" -> (q81_change_feed _),
    "q82_agg_view" -> (q82_agg_view _),
    "q83_salted_topk" -> (q83_salted_topk _),
    "q84_asof_bucketed" -> (q84_asof_bucketed _),
    "q85_asof_forward" -> (q85_asof_forward _),
    "q86_domain_filter" -> (q86_domain_filter _),
    "q87_source_read" -> (q87_source_read _),
    "q88_lm_perplexity" -> (q88_lm_perplexity _),
    "q89_stratified_sample" -> (q89_stratified_sample _),
    "q90_date_merge" -> (q90_date_merge _),
    "q91_schema_evolution" -> (q91_schema_evolution _),
    "q92_sql_merge" -> (q92_sql_merge _),
    "q93_catalog_sql" -> (q93_catalog_sql _),
    "q94_composite_merge" -> (q94_composite_merge _),
    "q95_dup_ngrams" -> (q95_dup_ngrams _),
    "q96_semantic_dedup" -> (q96_semantic_dedup _),
    "q97_maintenance_sql" -> (q97_maintenance_sql _),
    "q98_zorder_merge" -> (q98_zorder_merge _),
    "q99_sql_lifecycle" -> (q99_sql_lifecycle _),
    "q100_zone_delete" -> (q100_zone_delete _),
    "q101_zone_update" -> (q101_zone_update _),
    "q102_stream_sink" -> (q102_stream_sink _),
    "q103_cdf_source" -> (q103_cdf_source _),
    "q104_history_meta" -> (q104_history_meta _),
    "q105_nested_merge" -> (q105_nested_merge _),
    "q106_bucketed_join" -> (q106_bucketed_join _),
    "q107_ctas_lifecycle" -> (q107_ctas_lifecycle _),
    "q108_tombstone_delete" -> (q108_tombstone_delete _),
    "q109_corpus_shuffle" -> (q109_corpus_shuffle _),
    "q110_corpus_mixture" -> (q110_corpus_mixture _),
    "q111_restore" -> (q111_restore _),
    "q112_topk_pushdown" -> (q112_topk_pushdown _),
    "q113_line_dedup" -> (q113_line_dedup _),
    "q114_pq_ann" -> (q114_pq_ann _),
    "q115_clone" -> (q115_clone _),
    "q116_check_constraints" -> (q116_check_constraints _),
    "q117_incremental_dedup" -> (q117_incremental_dedup _),
    "q118_drop_column" -> (q118_drop_column _),
    "q119_corpus_pipeline" -> (q119_corpus_pipeline _),
    "q120_compact_purge" -> (q120_compact_purge _),
    "q121_rename_lifecycle" -> (q121_rename_lifecycle _),
    "q122_rebucket" -> (q122_rebucket _),
    "q123_widen_type" -> (q123_widen_type _),
    "q124_ivfpq_ann" -> (q124_ivfpq_ann _),
    "q125_compact_range" -> (q125_compact_range _),
    "q126_stream_dedup" -> (q126_stream_dedup _),
    "q127_widen_decimal" -> (q127_widen_decimal _),
    "q128_sq_ann" -> (q128_sq_ann _),
    "q129_clean_text" -> (q129_clean_text _),
    "q130_nested_ddl" -> (q130_nested_ddl _),
    "q131_ann_pipeline" -> (q131_ann_pipeline _),
    "q132_gopher_gate" -> (q132_gopher_gate _),
    "q133_interpolate" -> (q133_interpolate _),
    "q134_image_dedup" -> (q134_image_dedup _),
    "q135_span_dedup" -> (q135_span_dedup _),
    "q136_multimodal_dedup" -> (q136_multimodal_dedup _),
    "q137_incremental_image_dedup" -> (q137_incremental_image_dedup _),
    "q138_c4_filter" -> (q138_c4_filter _),
    "q139_clean_pipeline" -> (q139_clean_pipeline _),
    "q140_quality_gate" -> (q140_quality_gate _),
    "q141_token_chunks" -> (q141_token_chunks _),
    "q142_token_pack" -> (q142_token_pack _),
    "q143_phash_crop_dedup" -> (q143_phash_crop_dedup _),
    "q144_quality_pipeline" -> (q144_quality_pipeline _),
    "q145_temperature_mixture" -> (q145_temperature_mixture _),
    "q146_sliding_windows" -> (q146_sliding_windows _),
    "q147_bm25_search" -> (q147_bm25_search _),
    "q148_hybrid_rrf" -> (q148_hybrid_rrf _),
    "q149_quantile_prune" -> (q149_quantile_prune _),
    "q150_diversity_stats" -> (q150_diversity_stats _),
    "q151_mmr_rerank" -> (q151_mmr_rerank _),
    "q152_random_projection" -> (q152_random_projection _),
    "q153_vocab_oov" -> (q153_vocab_oov _),
    "q154_source_overlap" -> (q154_source_overlap _),
    "q155_leakage_split" -> (q155_leakage_split _),
    "q156_dim_stats" -> (q156_dim_stats _),
    "q157_l2_normalize" -> (q157_l2_normalize _),
    "q158_filtered_ann" -> (q158_filtered_ann _),
    "q159_exact_sample" -> (q159_exact_sample _),
    "q160_late_interaction" -> (q160_late_interaction _),
    "q161_funnel" -> (q161_funnel _),
    "q162_retention" -> (q162_retention _),
    "q163_heavy_hitters" -> (q163_heavy_hitters _),
    "q164_transitions" -> (q164_transitions _),
    "q165_replication" -> (q165_replication _),
    "q166_knn_classify" -> (q166_knn_classify _),
    "q167_label_cosines" -> (q167_label_cosines _),
    "q168_lang_confusion" -> (q168_lang_confusion _),
    "q169_datasheet" -> (q169_datasheet _),
    "q170_pmi_pairs" -> (q170_pmi_pairs _),
    "q171_funnel_durations" -> (q171_funnel_durations _),
    "q172_centroid_outliers" -> (q172_centroid_outliers _),
    "q173_script_histogram" -> (q173_script_histogram _),
    "q174_bpe_tokens" -> (q174_bpe_tokens _),
    "q175_bpe_chunks" -> (q175_bpe_chunks _),
    "q176_approx_percentile" -> (q176_approx_percentile _),
    "q177_html_extract" -> (q177_html_extract _),
    "q178_url_dedup" -> (q178_url_dedup _),
    "q179_recall_at_k" -> (q179_recall_at_k _),
    "q180_sentence_split" -> (q180_sentence_split _),
    "q181_attribution" -> (q181_attribution _),
    "q182_bloom_membership" -> (q182_bloom_membership _),
    "q183_sentence_chunks" -> (q183_sentence_chunks _),
    "q184_bpe_fertility" -> (q184_bpe_fertility _),
    "q185_bm25_indexed" -> (q185_bm25_indexed _),
    "q186_ngram_novelty" -> (q186_ngram_novelty _),
    "q187_sql_subqueries" -> (q187_sql_subqueries _),
    "q188_lateral_topk" -> (q188_lateral_topk _),
    "q189_recursive_cte" -> (q189_recursive_cte _),
    "q190_cluster_histogram" -> (q190_cluster_histogram _),
    "q191_bpe_train" -> (q191_bpe_train _),
    "q192_pagerank" -> (q192_pagerank _),
    "q193_cdc_chunks" -> (q193_cdc_chunks _),
    "q194_cms_counts" -> (q194_cms_counts _),
    "q195_version_diff" -> (q195_version_diff _),
    "q196_shortest_paths" -> (q196_shortest_paths _),
    "q197_triangles" -> (q197_triangles _),
    "q198_shard_assign" -> (q198_shard_assign _),
    "q199_rolling_anomaly" -> (q199_rolling_anomaly _),
    "q200_ohlc" -> (q200_ohlc _),
    "q201_hll_partitioned" -> (q201_hll_partitioned _),
    "q202_token_mixture" -> (q202_token_mixture _),
    "q203_kcore" -> (q203_kcore _),
    "q204_fuzzy_join" -> (q204_fuzzy_join _),
    "q205_epoch_upsample" -> (q205_epoch_upsample _),
    "q206_personalized_pr" -> (q206_personalized_pr _),
    "q207_scene_cuts" -> (q207_scene_cuts _),
    "q208_stickiness" -> (q208_stickiness _),
    "q209_weighted_paths" -> (q209_weighted_paths _),
    "q210_bpe_byte" -> (q210_bpe_byte _),
    "q211_backoff_ppl" -> (q211_backoff_ppl _),
    "q212_ppl_quality_gate" -> (q212_ppl_quality_gate _),
    "q214_avro_ingest" -> (q214_avro_ingest _),
    "q215_hll_incremental" -> (q215_hll_incremental _),
    "q216_hits" -> (q216_hits _),
    "q217_kmv_overlap" -> (q217_kmv_overlap _),
    "q218_label_propagation" -> (q218_label_propagation _),
    "q219_token_entropy" -> (q219_token_entropy _),
    "q220_containment" -> (q220_containment _),
    "q221_containment_discovery" -> (q221_containment_discovery _),
    "q222_scc" -> (q222_scc _),
    "q223_quantile_incremental" -> (q223_quantile_incremental _),
    "q224_weighted_sample" -> (q224_weighted_sample _),
    "q225_generated_columns" -> (q225_generated_columns _),
    "q213_connected_components" -> (q213_connected_components _),
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
