package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph analytics over edge tables — the Pregel-shaped
  * iterate-join-aggregate family, kept fully declarative so Catalyst
  * plans every superstep (no RDD graph runtime needed for the
  * aggregate-from-neighbors class of algorithms).
  *
  * All ranks are EXACT fixed-point integers (pico-rank units, floor
  * division) so every iteration is order-independent and bit-identical
  * in any engine with 64-bit integer SQL — an external oracle can
  * replay the whole power iteration relationally (the q46/q88
  * fixed-point discipline applied to iterative state).
  */
object Graph {

  /** Eagerly localCheckpoint `df` with observed aggregate metrics riding
    * the SAME materialization job (`Dataset.observe` + the checkpoint
    * action): iterative operators read their convergence tests / global
    * scalars (changed-row counts, frontier sizes, normalization maxima)
    * out of the checkpoint they must run anyway, instead of paying a
    * separate job (or an exceptAll shuffle pair) per superstep — the
    * measure-free convergence check. Returns the checkpointed frame and
    * the metric row. */
  private def ckObserved(df: DataFrame, metrics: Column*)
      : (DataFrame, Map[String, Any]) = Materialize.ckObserved(df, metrics: _*)

  private def metricLong(m: Map[String, Any], k: String): Long =
    m.get(k) match {
      case Some(v: Long) => v
      case Some(v: Number) => v.longValue()
      case _ => 0L
    }

  /** PageRank by power iteration in exact integer arithmetic.
    *
    * Input `edges` must carry `src: long`, `dst: long`, `w: long`
    * (w > 0; parallel edges are collapsed by summing weights). Ranks
    * are per-node-normalized: every node starts at `unit` (1e12), so
    * total mass ≈ nodes × unit and the teleport term is the constant
    * `(unit · (dampDen − dampNum)) div dampDen` — no 1/N floats
    * anywhere. One superstep is
    *
    *   rank'(v) = base + dampNum · (inflow(v) + dangShare) div dampDen
    *   inflow(v) = Σ_{(u,v,w)} (rank(u) · w) div outw(u)
    *   dangShare = (Σ_{u dangling} rank(u)) div nNodes
    *
    * with every `div` a positive-operand floor — deterministic in both
    * engines, mass-conserving up to floor shavings.
    *
    * Scale shape (the GraphX/Pregel contract without the RDD runtime):
    * the edge table shuffles ONCE to collapse parallel edges and gains
    * `outw` from a src-partitioned window (no second edge shuffle),
    * then persists for the whole run; each iteration is exactly one
    * src-keyed join (rank is node-sized) + one dst-keyed partial-agg
    * shuffle, with the dangling mass a one-row broadcast. The rank
    * frontier is LOCAL-CHECKPOINTED (eager) each superstep: it is
    * referenced twice per step (contributions + dangling sum), an
    * unmaterialized frontier would re-run the whole prefix of
    * iterations per reference (exponential lineage), and persist +
    * unpersist-the-parent is NOT a fix — `Dataset.unpersist` CASCADES,
    * evicting every cached child whose plan embeds the unpersisted
    * plan, so the loop silently recomputes from scratch (measured 10×
    * on the sf0.1 bench lane before this was a checkpoint). Eager
    * localCheckpoint truncates the lineage instead; superseded
    * frontier blocks are reclaimed by the ContextCleaner.
    *
    * `seeds` switches to PERSONALIZED PageRank (crawl prioritization /
    * TrustRank): the whole (1−d) teleport mass lands uniformly on the
    * seed set instead of on all nodes — per-seed base is
    * `base·nNodes div nSeeds`, so TOTAL teleport mass matches the
    * uniform variant and ranks stay directly comparable. DANGLING mass
    * follows the personalization vector too (the standard personalized
    * formulation): in seeded mode each superstep's dangling total is
    * redistributed over the SEEDS (`dangTotal div nSeeds` per seed, 0
    * elsewhere) rather than uniformly over all nodes — a sink cannot
    * leak rank mass back to non-seed nodes.
    *
    * The only persisted helper is the edge table, released in `finally`
    * before returning — safe because the returned frontier is
    * localCheckpointed (lineage already truncated, so the unpersist
    * cascade cannot reach it); a long-lived session running many
    * pageRank calls retains nothing. The node frame (with its dangling
    * and seed flags) is ONE observed checkpoint whose metrics deliver
    * every one-time scalar (node/dangling/seed counts) with no separate
    * count jobs; each superstep's dangling mass rides the frontier
    * checkpoint the same way, so a superstep is exactly one
    * materialization job however the graph is shaped.
    *
    * Overflow headroom: rank(u) ≤ total mass ≈ n·unit, so rank·w needs
    * n·unit·w_max < 2^63 — at the default unit=1e12 that bounds
    * n·w_max < ~9.2e6; for billion-node graphs drop `unit` to 1e6
    * (the precision/headroom dial is the caller's).
    */
  def pageRank(edges: DataFrame,
               iterations: Int,
               dampNum: Long = 85L,
               dampDen: Long = 100L,
               unit: Long = 1000000000000L,
               seeds: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < dampNum < dampDen (got $dampNum/$dampDen)")
    val base = unit * (dampDen - dampNum) / dampDen

    // one shuffle collapses parallel edges; outw comes from a window on
    // the SAME src partitioning (join-free second aggregate — the
    // exchange-reuse discipline), then the edge table persists for the
    // whole run
    val e = edges
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))
      .withColumn("outw", sum(col("w")).over(Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      // Node set, dangling flag, seed flag and ALL one-time scalars
      // (node count, dangling count, seed count) from ONE observed
      // checkpoint job: one aggregation derives has-out-edge per node
      // (dangling = appears only as dst — max(has_out) = 0), replacing
      // the previous distinct + anti-join + three separate driver jobs
      // (nodes.count, dangling.isEmpty, seeds.count) with metrics riding
      // the materialization the node frame needs anyway (the ckObserved
      // discipline — guide §1.2, don't pay jobs for scalars a required
      // job already knows).
      val flags0 = e.select(col("src").as("node_id"), lit(1).as("__out"))
        .union(e.select(col("dst"), lit(0)))
        .groupBy(col("node_id"))
        .agg((max(col("__out")) === 0).as("__dang"))
      val flagged = seeds match {
        case None => flags0.withColumn("__seed", lit(true))
        case Some(sd) =>
          // intersect-with-graph happens by construction: the left join
          // keys off the graph's own node set
          flags0.join(sd.toDF("node_id").distinct()
              .withColumn("__s", lit(true)), Seq("node_id"), "left")
            .withColumn("__seed", coalesce(col("__s"), lit(false)))
            .drop("__s")
      }
      val (nodesCk, m0) = ckObserved(flagged,
        count(lit(1)).as("__n"),
        sum(when(col("__dang"), 1L).otherwise(0L)).as("__ndang"),
        sum(when(col("__seed"), 1L).otherwise(0L)).as("__nseed"))
      val nNodes = metricLong(m0, "__n")
      val hasDangling = metricLong(m0, "__ndang") > 0L

      // PERSONALIZED teleport: the whole (1-d) mass lands on the seed set
      // (uniformly within it) instead of uniformly on all nodes — the
      // crawl-frontier / trust-propagation form. Total teleport mass is
      // IDENTICAL to the uniform case (base x nNodes), so the two variants
      // are directly comparable and the overflow analysis carries over.
      // __seed marks the dangling-mass recipients; dangDiv is their count.
      val dangDiv = seeds match {
        case None => nNodes
        case Some(_) =>
          val nSeeds = metricLong(m0, "__nseed")
          require(nSeeds >= 1, "seeds must intersect the graph's nodes")
          nSeeds
      }
      val perSeedBase = seeds match {
        case None => base
        case Some(_) => base * nNodes / dangDiv
      }
      val nodesWithBase = nodesCk
        .withColumn("__base",
          when(col("__seed"), lit(perSeedBase)).otherwise(lit(0L)))

      // The dangling total for superstep i is Σ rank_i over dangling
      // nodes: exact at i=0 (every rank is `unit`), and for i>0 it rides
      // the superstep's OWN checkpoint as an observed metric — no
      // per-superstep semi-join + broadcast job (the SCC/ckObserved
      // treatment; the old shape also evaluated the frontier twice).
      var dangTotal = metricLong(m0, "__ndang") * unit
      // the initial frontier is a pure projection of the checkpointed
      // node frame — no separate materialization job
      var rank = nodesCk.select(col("node_id"), lit(unit).as("rank_pico"),
        col("__dang"))
      var i = 0
      while (i < iterations) {
        val inflow = e
          .join(rank.select(col("node_id").as("src"), col("rank_pico")),
            Seq("src"))
          .select(col("dst").as("node_id"),
            expr("(rank_pico * w) DIV outw").as("__c"))
          .groupBy(col("node_id"))
          .agg(sum(col("__c")).as("__inflow"))
        val withShare = nodesWithBase.join(inflow, Seq("node_id"), "left")
          .withColumn("__share",
            if (!hasDangling) lit(0L)
            else when(col("__seed"), lit(dangTotal / dangDiv))
              .otherwise(lit(0L)))
        val next = withShare
          .select(col("node_id"),
            (col("__base") +
              expr(s"($dampNum * (coalesce(__inflow, 0L) + __share)) " +
                s"DIV $dampDen")).as("rank_pico"),
            col("__dang"))
        if (hasDangling) {
          val (ck, m) = ckObserved(next,
            sum(when(col("__dang"), col("rank_pico")).otherwise(0L))
              .as("__dt"))
          rank = ck
          dangTotal = metricLong(m, "__dt")
        } else rank = next.transform(Materialize.ck)
        i += 1
      }
      rank.select(col("node_id"), col("rank_pico"))
    } finally {
      e.unpersist(blocking = false)
    }
  }

  /** Multi-source shortest-path distances, bounded at `maxHops`
    * supersteps: `dist(v)` = fewest edges (or, with `weightCol`, the
    * cheapest total NON-NEGATIVE edge weight — the bounded Bellman–Ford
    * rounds) from any node in `sources` (a one-column node-id frame),
    * null where unreached within the bound. Weighted answers are exact
    * for paths of ≤ `maxHops` EDGES — the bound is the hop horizon, the
    * standard distributed Bellman–Ford contract. Each superstep relaxes
    * every edge once — one src-keyed join + one dst-keyed min-agg
    * shuffle, frontier eagerly local-checkpointed per step (the
    * pageRank discipline — see its scaladoc for why persist + cascading
    * unpersist is NOT the fix; the full dist table is carried, so the
    * step is idempotent once distances converge and the bound is purely
    * a cost cap). Exact integers end to end — an oracle replays the
    * relaxation chain relationally. Parallel edges keep the cheapest
    * weight. */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
                    maxHops: Int,
                    weightCol: Option[String] = None): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1 (got $maxHops)")
    // hash-partition the persisted edge table on src ONCE: every
    // superstep's frontier join is src-keyed, so the edge side never
    // re-exchanges (guide §2.4); only the frontier shuffles per hop
    val e = (weightCol match {
      case None =>
        edges.select(col("src"), col("dst"), lit(1L).as("__w")).distinct()
      case Some(wc) =>
        edges.select(col("src"), col("dst"), col(wc).cast("long").as("__w"))
          .groupBy(col("src"), col("dst")).agg(min(col("__w")).as("__w"))
    }).repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node_id"))
        .union(e.select(col("dst")))
        .distinct()
      // distinct: a duplicated source id would otherwise fan out the
      // initial left join and carry duplicate per-node rows through
      // every superstep (the pageRank seed-set discipline)
      val src = sources.toDF("node_id").distinct()
      var dist = nodes
        .join(src.withColumn("__z", lit(0L)), Seq("node_id"), "left")
        .select(col("node_id"), col("__z").as("dist"))
        .transform(Materialize.ck)
      // FRONTIER-only relaxation (guide §2.3 — shuffle fewer bytes): a
      // node whose distance did not improve last superstep already sent
      // its messages in an earlier round, so relaxing only the CHANGED
      // set yields bit-identical per-round distances (the standard
      // Bellman–Ford delta argument: if dist(u) is unchanged from round
      // k−2, every dist(u)+w was already applied at round k−1). Message
      // volume drops from edges-incident-to-all-reached to
      // edges-incident-to-the-frontier, and an EMPTY frontier proves all
      // remaining rounds are no-ops — skipping them cannot change the
      // hop-bounded answer. Both frames derive lazily from one
      // checkpointed merged frame per round (cached-block projections).
      var frontier = dist.where(col("dist").isNotNull)
      require(!frontier.isEmpty,
        "sources must intersect the graph's nodes")
      var i = 0
      while (i < maxHops) {
        val relaxed = e
          .join(frontier.withColumnRenamed("node_id", "src"), Seq("src"))
          .groupBy(col("dst").as("node_id"))
          .agg(min(col("dist") + col("__w")).as("__c"))
        // __d working name: a sibling expression must never reference a
        // column another output of the same select re-aliases; the
        // frontier size rides the checkpoint as an observed metric so
        // the empty-frontier early exit costs no extra job
        val (merged, m) = ckObserved(
          dist.withColumnRenamed("dist", "__d")
            .join(relaxed, Seq("node_id"), "left")
            .select(col("node_id"),
              when(col("__d").isNull, col("__c"))
                .when(col("__c").isNull, col("__d"))
                .otherwise(least(col("__d"), col("__c"))).as("dist"),
              (col("__c").isNotNull &&
                (col("__d").isNull || col("__c") < col("__d"))).as("__chg")),
          sum(col("__chg").cast("long")).as("__nchg"))
        dist = merged.select(col("node_id"), col("dist"))
        frontier = merged.where(col("__chg"))
          .select(col("node_id"), col("dist"))
        i += 1
        if (metricLong(m, "__nchg") == 0L) i = maxHops
      }
      dist
    } finally e.unpersist(blocking = false)
  }

  /** k-CORE: the maximal subgraph in which every node keeps degree ≥ k,
    * by iterative peeling — drop all nodes below k, re-count, repeat
    * until the edge set is stable (e' ⊆ e, so equal COUNT ⇒ equal set
    * ⇒ fixpoint; extra rounds are no-ops, which is what lets a
    * fixed-round oracle replay a fixpoint exactly). The community/
    * spam-farm pruning primitive over similarity and link graphs.
    * Refuses (fail-fast) if `maxRounds` peels don't converge — peeling
    * depth is data-dependent and silently-partial cores are wrong
    * answers. Each round is one degree partial-agg + two semi-joins on
    * the shrinking edge table, eagerly local-checkpointed per round
    * (the pageRank frontier discipline). Returns the core's node
    * ids. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    var (e, m0) = ckObserved(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct(),
      count(lit(1)).as("__n"))
    var n = metricLong(m0, "__n")
    var round = 0
    var converged = n == 0L
    while (!converged && round < maxRounds) {
      val keep = e.select(col("a").as("node_id")).union(e.select(col("b")))
        .groupBy(col("node_id")).agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k)
        .select(col("node_id"))
      // the surviving-edge count rides the checkpoint (observed metric)
      // instead of a separate count job per peel round; e2 ⊆ e, so equal
      // counts still prove the fixpoint
      val (e2, m) = ckObserved(
        e.join(keep.withColumnRenamed("node_id", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node_id", "b"), Seq("b"), "left_semi"),
        count(lit(1)).as("__n"))
      val n2 = metricLong(m, "__n")
      converged = n2 == n
      e = e2
      n = n2
      round += 1
    }
    require(converged,
      s"k-core peeling did not converge within $maxRounds rounds — raise maxRounds")
    e.select(col("a").as("node_id")).union(e.select(col("b"))).distinct()
  }

  /** Triangle Bloom size for `edges` items: Spark's optimal bit count
    * for a 3% false-positive rate, clamped at 2^27 bits (a 16 MB plan
    * literal, reached at ~18M edges) — past it the false-positive rate
    * degrades, and the exact semi-join after the filter keeps counts. */
  private[graft] def triangleBloomBits(edges: Long): Long =
    math.min((-edges * math.log(0.03) / (math.log(2) * math.log(2))).toLong,
      1L << 27)

  /** Per-node triangle counts by DEGREE-ORDERED edge orientation (the
    * node-iterator++ / Chiba–Nishizeki discipline): undirected edges
    * orient from the (degree, id)-smaller endpoint, every triangle
    * {x≺y≺z} then materializes as exactly one wedge at its ≺-minimum
    * vertex closed by one membership probe — wedge volume is
    * Σ out-deg², and degree ordering caps out-degree at O(√m) on any
    * graph (a celebrity hub fans IN, never out), which is what keeps
    * the wedge join alive at web scale where id-ordered orientation
    * explodes. Three shuffles total: degree agg, wedge self-join,
    * closing-edge semi-equijoin — the last prefiltered map-side by a
    * Bloom filter over the edge keys (guide §3.2), so the wedge rows
    * that cross its exchange are ∝ triangles + fp, not Σ out-deg².
    * Returns (node_id, n_triangles) for every node (0 where none). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var o: DataFrame = null
    try {
      val deg = und.select(col("a").as("node_id"))
        .union(und.select(col("b")))
        .groupBy(col("node_id")).agg(count(lit(1)).as("deg"))
      // orient by (deg, id): src' = the smaller endpoint under that order
      o = und
        .join(deg.select(col("node_id").as("a"), col("deg").as("__da")), Seq("a"))
        .join(deg.select(col("node_id").as("b"), col("deg").as("__db")), Seq("b"))
        .select(
          when(col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("src"),
          when(col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val e1 = o.select(col("src").as("__s"), col("dst").as("__u"))
      val e2 = o.select(col("src").as("__s"), col("dst").as("__v"))
      // Bloom-prefilter the closing-edge membership probe (guide §3.2):
      // wedge volume is Σ out-deg² and MOST wedges close no triangle, so
      // dropping non-members map-side — before the wedge rows reach the
      // closing join's exchange — is the §8 "decide with small rows"
      // move. The filter is built over xxhash64(a, b) of the (already
      // materialized) edge set and embedded as a codegen'd
      // BloomFilterMightContain literal (no interpreted UDF in the
      // per-wedge path); false positives only leak a few extra rows into
      // the exact semi-join below, never a wrong count. Wedges satisfy
      // __u < __v, und satisfies a < b, so the pair keys align with no
      // least/greatest re-derivation.
      val nUnd = math.max(1L, und.count())
      val bloom = und.stat.bloomFilter(
        xxhash64(col("a"), col("b")), nUnd, triangleBloomBits(nUnd))
      val bloomBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      }
      import org.apache.spark.sql.classic.GraftShims
      val mightClose = GraftShims.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal(bloomBytes,
            org.apache.spark.sql.types.BinaryType),
          GraftShims.expression(xxhash64(col("__u"), col("__v")))))
      val wedges = e1.join(e2, Seq("__s")).where(col("__u") < col("__v"))
        .where(mightClose)
      val tri = wedges.join(und,
          least(col("__u"), col("__v")) === col("a") &&
            greatest(col("__u"), col("__v")) === col("b"),
          "left_semi")
        .select(col("__s").as("x"), col("__u").as("y"), col("__v").as("z"))
      val perNode = tri
        .select(explode(array(col("x"), col("y"), col("z"))).as("node_id"))
        .groupBy(col("node_id")).agg(count(lit(1)).as("n_triangles"))
      // eager materialization (node-sized) so the helper frames can be
      // released in finally without the result recomputing uncached
      deg.select(col("node_id"))
        .join(perNode, Seq("node_id"), "left")
        .select(col("node_id"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .transform(Materialize.ck)
    } finally {
      und.unpersist(blocking = false)
      if (o != null) o.unpersist(blocking = false)
    }
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM'99) by power iteration
    * in exact integer arithmetic — the link-analysis complement to
    * PageRank for BIPARTITE-flavored graphs (a buyer is a good hub if
    * it buys from good authorities; a supplier a good authority if
    * good hubs buy from it). Per superstep, over the DIRECTED edge
    * set:
    *
    *   a_raw(v) = Σ_{(u,v)} h(u)        then a = a_raw·unit div max(a_raw)
    *   h_raw(u) = Σ_{(u,v)} a(v)        then h = h_raw·unit div max(h_raw)
    *
    * Max-normalization (instead of the textbook L2 norm) keeps every
    * value an exact integer in [0, unit]: both engines floor-divide
    * the same integers, so the whole iteration is oracle-replayable —
    * the q192 fixed-point discipline — and the ranking it induces is
    * the same (normalization never reorders). Duplicate edges
    * collapse; scores start at `unit`.
    *
    * Scale shape: the edge table shuffles once (dedup) and persists
    * for the run (released in `finally`); each superstep is one
    * src- and one dst-keyed join + partial-agg shuffle, each
    * normalization max a one-row broadcast; both frontiers are
    * eagerly local-checkpointed (the pageRank lineage discipline).
    * Overflow: the normalization multiplies raw·unit with
    * raw ≤ deg·unit, so deg_max·unit² < 2^63 — at the default
    * unit=1e6 that allows degree up to ~9.2e6; for social-scale hubs
    * drop `unit` (the precision/headroom dial, q192's).
    *
    * Returns (node_id, hub_score, auth_score) for every node. */
  def hits(edges: DataFrame, iterations: Int,
           unit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1 (got $iterations)")
    require(unit >= 1L, s"unit must be >= 1 (got $unit)")
    // the two-sided update joins the edge table on src (authority step)
    // AND on dst (hub step) every superstep — persist it TWICE, once
    // hash-partitioned per join key (the CSR/CSC dual-representation
    // discipline), so neither side of either join re-exchanges the edge
    // set per iteration (guide §2.4: two operations keyed the same way
    // share one exchange); only the node-sized frontier shuffles
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = e.repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      require(!e.isEmpty, "HITS needs at least one edge")
      val nodes = e.select(col("src").as("node_id"))
        .union(e.select(col("dst")))
        .distinct()
        .transform(Materialize.ck)
      // normalization: checkpoint the raw frame ONCE (it is node-sized and
      // the frontier must be lineage-truncated anyway), read the max back
      // as a one-row driver scalar, and fold it into the projection as a
      // literal. The previous crossJoin(broadcast(raw.agg(max))) form
      // evaluated the whole raw subtree TWICE per half-step (once under
      // the broadcast agg, once as the stream side) — the optimization
      // guide's duplicated-subtree check (§7.2); integer results are
      // identical (same floor division over the same longs).
      def normalized(raw: DataFrame, c: String): DataFrame = {
        val (ck, m) = ckObserved(raw, max(col(c)).as("__mx"))
        val mx = metricLong(m, "__mx")
        ck.select(col("node_id"), expr(s"($c * ${unit}L) DIV ${mx}L").as(c))
      }
      var hub = nodes.withColumn("h", lit(unit)).transform(Materialize.ck)
      var auth = nodes.withColumn("a", lit(unit)).transform(Materialize.ck)
      var i = 0
      while (i < iterations) {
        val aRaw = nodes
          .join(e.join(hub.withColumnRenamed("node_id", "src"), Seq("src"))
            .groupBy(col("dst").as("node_id"))
            .agg(sum(col("h")).as("__ar")), Seq("node_id"), "left")
          .select(col("node_id"), coalesce(col("__ar"), lit(0L)).as("a"))
        // the normalized frame is a cheap projection over the checkpoint —
        // re-evaluation per reference reads cached blocks, so no second
        // checkpoint is needed
        auth = normalized(aRaw, "a")
        val hRaw = nodes
          .join(eDst.join(auth.withColumnRenamed("node_id", "dst"), Seq("dst"))
            .groupBy(col("src").as("node_id"))
            .agg(sum(col("a")).as("__hr")), Seq("node_id"), "left")
          .select(col("node_id"), coalesce(col("__hr"), lit(0L)).as("h"))
        hub = normalized(hRaw, "h")
        i += 1
      }
      hub.join(auth, Seq("node_id"))
        .select(col("node_id"), col("h").as("hub_score"),
          col("a").as("auth_score"))
    } finally {
      e.unpersist(blocking = false)
      eDst.unpersist(blocking = false)
    }
  }

  /** LABEL PROPAGATION community detection (Raghavan et al., PRE'07),
    * SYNCHRONOUS and fully deterministic: labels start as node ids;
    * each round every node adopts the most frequent label among its
    * (undirected) neighbors, ties broken by SMALLEST label — the
    * majority vote as one (node, label) partial-agg + one per-node
    * struct-min, no randomized order (the sequential variant's
    * nondeterminism is exactly what an oracle can't replay). Runs
    * EXACTLY `rounds` rounds — synchronous LPA may oscillate on
    * bipartite structures, so the round budget IS the contract (the
    * standard practice) and a fixed-round oracle replays it verbatim;
    * communities are the label groups after the last round.
    *
    * Scale shape: per round one join of the label frame (node-sized)
    * against the static undirected edge list + one (node, label)
    * partial-agg shuffle + one node-keyed min — the Pregel pair, label
    * frame localCheckpointed per round, edge list persisted once and
    * released in `finally`.
    *
    * Returns (node_id, label). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    // hash-partition the persisted adjacency on v ONCE: every round's
    // label join is v-keyed, so the (2|E|-row) edge side never
    // re-exchanges — only the node-sized label frame shuffles per round
    val und = edges
      .select(col("src").as("u"), col("dst").as("v"))
      .where(col("u") =!= col("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v"))
        .where(col("u") =!= col("v")))
      .distinct()
      .repartition(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = und.select(col("u").as("node_id"))
        .distinct()
        .withColumn("label", col("node_id"))
        .transform(Materialize.ck)
      var i = 0
      while (i < rounds) {
        labels = und
          .join(labels.withColumnRenamed("node_id", "v"), Seq("v"))
          .groupBy(col("u").as("node_id"), col("label"))
          .agg(count(lit(1)).as("__c"))
          .groupBy(col("node_id"))
          // min over (-count, label): largest count, then smallest label
          .agg(min(struct((-col("__c")).as("n"), col("label").as("l")))
            .as("__m"))
          .select(col("node_id"), col("__m.l").as("label"))
          .transform(Materialize.ck)
        i += 1
      }
      labels
    } finally und.unpersist(blocking = false)
  }

  /** STRONGLY CONNECTED COMPONENTS of a DIRECTED edge table — the
    * crawl-graph operator (link loops, spam farms) the undirected
    * [[connectedComponents]] can't express — by deterministic
    * FORWARD-COLORING + BACKWARD SWEEP (the Orzan coloring / FW-BW
    * family, Orzan'04; Hong et al. PPoPP'13):
    *
    * per outer round, over the still-unassigned subgraph:
    *  1. '''forward coloring''' to fixpoint: color(u) starts at u and
    *     takes the min over in-neighbors' colors each superstep —
    *     color(u) = the minimum ancestor id. A node with color(u) = u
    *     is a ROOT (no smaller ancestor).
    *  2. '''backward sweep''' within each color class: starting from
    *     the roots, u joins when some edge u→v has v reached and
    *     color(u) = color(v). The swept set of class m is EXACTLY
    *     SCC(m): color(u) = m gives m →* u, the sweep gives u →* m,
    *     and any u mutually reachable with m must carry color m (a
    *     smaller ancestor of u would be a smaller ancestor of m).
    *     Every path witnessing u →* m stays inside color class m, so
    *     the class restriction loses nothing.
    *  3. extracted SCCs (labeled by their min member — the root) leave
    *     the active set; remaining nodes recolor next round.
    *
    * Each outer round first runs the '''FB-Trim peel''' (Hong et al.'s
    * Trim step): a node with no in-edges or no out-edges within the
    * active subgraph cannot belong to a ≥2-node SCC, so it is assigned
    * its singleton SCC immediately — iterated to fixpoint (bounded by
    * `maxSupersteps` per round; an unfinished trim simply resumes next
    * round), each pass two distinct-aggs + anti/semi joins, far
    * cheaper than a coloring superstep. DAG-shaped regions — the bulk
    * of a real crawl graph's condensation — drain entirely in trim and
    * never pay the coloring fixpoint; the coloring+sweep then peels
    * every remaining root SCC, so the outer round count is bounded by
    * the condensation depth COUNTING ONLY ≥2-node SCCs. Inner
    * supersteps are one join + one partial-agg shuffle each (Pregel
    * shape), frontiers localCheckpointed, the edge set released in
    * `finally`; forward coloring is diameter-bounded INSIDE one SCC
    * chain, not the whole graph. Fail-fasts past `maxRounds` (outer) /
    * `maxSupersteps` (coloring/sweep inner loops) — a silently partial
    * labeling is a wrong answer.
    *
    * Fully deterministic (min-id colors, no randomness), so an
    * external oracle can verify against an INDEPENDENT
    * mutual-reachability closure (the q213 discipline).
    *
    * Returns (node_id, scc) for every endpoint of `edges` after
    * self-loop removal, where `scc` is the smallest node id in the
    * node's strongly connected component. */
  def stronglyConnectedComponents(edges: DataFrame, maxRounds: Int = 16,
                                  maxSupersteps: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    require(maxSupersteps >= 1,
      s"maxSupersteps must be >= 1 (got $maxSupersteps)")
    val e0 = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var active = e0.select(col("src").as("node_id"))
        .union(e0.select(col("dst")))
        .distinct()
        .transform(Materialize.ck)
      // activeEdges stays hash-partitioned on src across shrinks: the
      // coloring fixpoint (the long inner loop) joins on src every
      // superstep, so the edge side never re-exchanges (guide §2.4);
      // localCheckpoint preserves the physical partitioning
      var activeEdges = e0.repartition(col("src")).transform(Materialize.ck)
      var assigned = active.limit(0)
        .withColumn("scc", col("node_id"))
        .transform(Materialize.ck)
      var outer = 0
      while (!active.isEmpty && outer < maxRounds) {
        // 0. FB-Trim to fixpoint: peel trivial SCCs by degree. One
        // union+partial-agg computes the kept set (nodes with BOTH an
        // in- and an out-edge in the active subgraph); trivial = active
        // minus kept — set-identical to (active∖srcs) ∪ (active∖dsts)
        // at one shuffle instead of two distincts + two anti-joins +
        // union-distinct (guide §2.4). `assigned` accumulates lazily
        // over checkpointed trivial frames and is checkpointed once per
        // outer round, not per pass.
        var trimming = true
        var tstep = 0
        while (trimming && tstep < maxSupersteps) {
          val kept = activeEdges
            .select(col("src").as("node_id"), lit(1).as("__o"), lit(0).as("__i"))
            .unionByName(activeEdges
              .select(col("dst").as("node_id"), lit(0).as("__o"), lit(1).as("__i")))
            .groupBy(col("node_id"))
            .agg(max(col("__o")).as("__o"), max(col("__i")).as("__i"))
            .where(col("__o") === 1 && col("__i") === 1)
            .select(col("node_id"))
          val (trivial, tm) = ckObserved(
            active.join(kept, Seq("node_id"), "left_anti"),
            count(lit(1)).as("__n"))
          if (metricLong(tm, "__n") == 0L) trimming = false
          else {
            assigned = assigned
              .unionByName(trivial.withColumn("scc", col("node_id")))
            active = active.join(trivial, Seq("node_id"), "left_anti")
              .transform(Materialize.ck)
            // dst semi-join FIRST, src second: the final src-keyed join
            // leaves the shrunk edge set hash-partitioned on src, which
            // is exactly what the coloring supersteps need — same
            // exchange count, no re-shuffle downstream
            activeEdges = activeEdges
              .join(active.withColumnRenamed("node_id", "dst"), Seq("dst"),
                "left_semi")
              .join(active.withColumnRenamed("node_id", "src"), Seq("src"),
                "left_semi")
              .select(col("src"), col("dst"))
              .transform(Materialize.ck)
          }
          tstep += 1
        }
        if (active.isEmpty) {
          assigned = assigned.transform(Materialize.ck)
          outer += 1
        } else {
        // 1. forward min-ancestor coloring to fixpoint. Convergence is
        // read off a changed-row flag computed IN the superstep's own
        // projection and scanned over the just-checkpointed blocks —
        // the previous per-superstep `exceptAll` paid two extra
        // node-frame shuffles for the same answer (colors only
        // decrease, so "no row decreased" IS the fixpoint test).
        var color = active.withColumn("color", col("node_id"))
          .transform(Materialize.ck)
        var converged = false
        var step = 0
        while (!converged && step < maxSupersteps) {
          val msgs = activeEdges
            .join(color.withColumnRenamed("node_id", "src"), Seq("src"))
            .groupBy(col("dst").as("node_id"))
            .agg(min(col("color")).as("__m"))
          // __cl working name: a sibling expression must never reference
          // a column another output of the same select re-aliases; the
          // changed-row count rides the checkpoint as an observed metric
          val (next, cm) = ckObserved(
            color.withColumnRenamed("color", "__cl")
              .join(msgs, Seq("node_id"), "left")
              .select(col("node_id"),
                least(col("__cl"), coalesce(col("__m"), col("__cl")))
                  .as("color"),
                (col("__m").isNotNull && col("__m") < col("__cl"))
                  .as("__chg")),
            sum(col("__chg").cast("long")).as("__nchg"))
          converged = metricLong(cm, "__nchg") == 0L
          color = next.select(col("node_id"), col("color"))
          step += 1
        }
        require(converged,
          s"SCC forward coloring did not converge within $maxSupersteps " +
            "supersteps — raise maxSupersteps")
        // 2. backward sweep from the roots, restricted to the color
        // class. `reached` only grows and stays distinct, so equal
        // counts prove the fixpoint — a count over the checkpointed
        // blocks replaces the exceptAll shuffles.
        var (reached, rm) = ckObserved(
          color.where(col("node_id") === col("color")),
          count(lit(1)).as("__n"))
        var reachedN = metricLong(rm, "__n")
        var swept = false
        step = 0
        while (!swept && step < maxSupersteps) {
          val grow = activeEdges
            .join(reached.withColumnRenamed("node_id", "dst"), Seq("dst"))
            .select(col("src").as("node_id"), col("color"))
            .join(color.withColumnRenamed("color", "__c"), Seq("node_id"))
            .where(col("__c") === col("color"))
            .select(col("node_id"), col("color"))
          val (next, nm) = ckObserved(
            reached.unionByName(grow).distinct(),
            count(lit(1)).as("__n"))
          val nextN = metricLong(nm, "__n")
          swept = nextN == reachedN
          reached = next
          reachedN = nextN
          step += 1
        }
        require(swept,
          s"SCC backward sweep did not converge within $maxSupersteps " +
            "supersteps — raise maxSupersteps")
        // 3. extract, shrink the active subgraph
        assigned = assigned
          .unionByName(reached.select(col("node_id"), col("color").as("scc")))
          .transform(Materialize.ck)
        active = active.join(reached.select(col("node_id")),
            Seq("node_id"), "left_anti")
          .transform(Materialize.ck)
        activeEdges = activeEdges
          .join(active.withColumnRenamed("node_id", "dst"), Seq("dst"),
            "left_semi")
          .join(active.withColumnRenamed("node_id", "src"), Seq("src"),
            "left_semi")
          .select(col("src"), col("dst"))
          .transform(Materialize.ck)
        outer += 1
        }
      }
      require(active.isEmpty,
        s"SCC peeling did not finish within $maxRounds rounds (condensation " +
          "deeper than the budget) — raise maxRounds")
      assigned
    } finally e0.unpersist(blocking = false)
  }

  /** CONNECTED COMPONENTS over an arbitrary edge table by the
    * ALTERNATING large-star / small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log²)-round form whose convergence does NOT depend on graph
    * diameter (min-label propagation needs diameter rounds; a 10⁶-hop
    * chain would never finish). One round is:
    *
    *  - '''large-star''': per node u with undirected neighborhood Γ(u),
    *    m = min(Γ(u) ∪ {u}); every STRICTLY LARGER neighbor repoints to
    *    m — edges {(v, m) : v ∈ Γ(u), v > u}.
    *  - '''small-star''': per node u over its smaller neighbors
    *    N = {v ∈ Γ(u) : v < u}, m = min(N ∪ {u}); emit {(v, m) : v ∈ N}
    *    ∪ {(u, m)}, self-loops dropped.
    *
    * Each half-round is one groupBy-min + one node-keyed join over the
    * current edge set; the set is localCheckpointed per round (the
    * pageRank frontier discipline). The ONLY fixpoints of the
    * alternation are min-rooted star forests (paper, Thm 1-2), so
    * convergence is an exact edge-set equality check (count + anti-join),
    * and once converged both operators are the identity — extra rounds
    * are no-ops, which is what lets a fixed-round oracle replay a
    * fixpoint exactly (the kCore discipline). Fail-fasts past
    * `maxRounds` — a silently-partial labeling is a wrong answer.
    *
    * Returns (node_id, component) for every endpoint of `edges` (after
    * self-loop removal), where `component` is the smallest node id in
    * the node's component. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 16): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    var (e, m0) = ckObserved(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .select(col("b").as("u"), col("a").as("v")), // directed big→small
      count(lit(1)).as("__n"))
    val allNodes = e.select(col("u").as("node_id"))
      .union(e.select(col("v")))
      .distinct()
      .transform(Materialize.ck)
    var n = metricLong(m0, "__n")
    var round = 0
    var converged = n == 0L
    while (!converged && round < maxRounds) {
      // large-star over the undirected view
      val nbrs = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("__m"))
      val ls = nbrs.where(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      // small-star over the (already big→small) directed set
      val minsS = ls.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("__m"))
      // the new edge count rides the checkpoint (observed metric)
      // instead of a separate count job per round
      val (ss, m) = ckObserved(
        ls.join(minsS, Seq("u"))
          .select(col("v").as("u"), col("__m").as("v"))
          .unionByName(minsS.select(col("u"), col("__m").as("v")))
          .where(col("u") =!= col("v"))
          .distinct(),
        count(lit(1)).as("__n"))
      val n2 = metricLong(m, "__n")
      // both edge frames are DISTINCT sets, so set equality is
      // |ss| == |e| plus an empty anti-join — a hash semi-join probe
      // instead of exceptAll's two full-frame shuffles; the anti-join
      // only runs when the counts already agree (&&
      // short-circuits), i.e. at most once before the fixpoint round
      converged = n2 == n &&
        ss.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = ss
      n = n2
      round += 1
    }
    require(converged,
      s"connected components did not converge within $maxRounds rounds — " +
        "raise maxRounds")
    // at the star-forest fixpoint every child points at its component's
    // minimum; roots (and isolated endpoints of dropped self-loops)
    // label themselves
    allNodes
      .join(e.withColumnRenamed("u", "node_id"), Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("v"), col("node_id")).as("component"))
  }
}
