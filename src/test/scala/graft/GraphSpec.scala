package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Exact fixed-point PageRank: hand-computed supersteps, dangling mass,
  * symmetry, and mass conservation. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val UNIT = 1000000000000L
  private val BASE = 150000000000L // (unit * 15) / 100

  test("symmetric 2-cycle: ranks stay exactly at unit") {
    // a <-> b, equal weights: inflow(v) = rank(u) each step, so
    // rank' = base + 85 * unit / 100 = unit exactly (fixed point)
    val e = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(e, iterations = 4).orderBy("node_id").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(UNIT, UNIT))
  }

  test("star graph: the hub out-ranks the leaves, hand-checked step") {
    // leaves 1..4 -> hub 0 and hub -> each leaf (w=1). After one step:
    //   hub inflow = 4 * (unit * 1 DIV 1) = 4 * unit
    //   leaf inflow = (unit * 1) DIV 4 (hub splits over 4 out-edges)
    val leaves = (1L to 4L)
    val e = (leaves.map(l => (l, 0L, 1L)) ++ leaves.map(l => (0L, l, 1L)))
      .toDF("src", "dst", "w")
    val r1 = Graph.pageRank(e, iterations = 1).orderBy("node_id").collect()
    val hub1 = BASE + 85L * (4L * UNIT) / 100L
    val leaf1 = BASE + 85L * (UNIT / 4L) / 100L
    assert(r1.head.getLong(1) == hub1)
    assert(r1.tail.map(_.getLong(1)).toSeq == Seq.fill(4)(leaf1))
    // a second step distributes the hub's mass back: hand-fold it
    val r2 = Graph.pageRank(e, iterations = 2).orderBy("node_id").collect()
    val hub2 = BASE + 85L * (4L * leaf1) / 100L
    val leaf2 = BASE + 85L * (hub1 / 4L) / 100L
    assert(r2.head.getLong(1) == hub2)
    assert(r2.tail.map(_.getLong(1)).toSeq == Seq.fill(4)(leaf2))
  }

  test("dangling node redistributes its mass, mass is conserved") {
    // 1 -> 2, 2 has no out-edges: 2's rank re-enters as dangShare
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(e, iterations = 1).orderBy("node_id").collect()
    // dangShare = unit DIV 2; node 1 gets only the dangling share,
    // node 2 gets node 1's full rank plus the share
    val share = UNIT / 2L
    assert(r(0).getLong(1) == BASE + 85L * share / 100L)
    assert(r(1).getLong(1) == BASE + 85L * (UNIT + share) / 100L)
    // mass conserved up to floor shavings (never grows)
    val total = r.map(_.getLong(1)).sum
    assert(total <= 2 * UNIT && total > 2 * UNIT - 100L)
  }

  test("parallel edges collapse; weights steer the split") {
    // 0 -> 1 twice (w=1 each) and 0 -> 2 (w=2): both dsts get half
    val e = Seq((0L, 1L, 1L), (0L, 1L, 1L), (0L, 2L, 2L),
      (1L, 0L, 1L), (2L, 0L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(e, iterations = 3).orderBy("node_id").collect()
    assert(r(1).getLong(1) == r(2).getLong(1)) // symmetric halves
    assert(r(0).getLong(1) > r(1).getLong(1)) // the hub dominates
  }

  test("personalized teleport: seeds absorb the (1-d) mass, hand-folded") {
    val e = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(e, 2, seeds = Some(Seq(1L).toDF("node_id")))
      .orderBy("node_id").collect().map(_.getLong(1))
    val perSeed = 2L * BASE // base * nNodes / nSeeds
    val r1s = perSeed + 85L * UNIT / 100L
    val r1n = 85L * UNIT / 100L
    assert(r(0) == perSeed + 85L * r1n / 100L)
    assert(r(1) == 85L * r1s / 100L)
    assert(r(0) > r(1), "the seed out-ranks under personalization")
    assert(r.sum == 2L * UNIT, "teleport mass total matches the uniform run")
    intercept[IllegalArgumentException](Graph.pageRank(e, 1,
      seeds = Some(Seq(99L).toDF("node_id"))))
  }

  test("shortestPaths: path graph, hop bound, disconnected stays null") {
    // 1-2-3-4-5 chain (symmetric) plus isolated pair 8-9
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val src = Seq(1L).toDF("node_id")
    val d4 = Graph.shortestPaths(e, src, maxHops = 4)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(d4 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L,
      8L -> -1L, 9L -> -1L))
    // the bound caps work, not correctness of what's reached
    val d2 = Graph.shortestPaths(e, src, maxHops = 2)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(d2(3L) == 2L && d2(4L) == -1L && d2(5L) == -1L)
    // multi-source takes the min side
    val dm = Graph.shortestPaths(e, Seq(1L, 5L).toDF("node_id"), maxHops = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(dm(3L) == 2L && dm(4L) == 1L && dm(5L) == 0L)
  }

  test("weighted shortestPaths: cheap detour beats the direct edge") {
    // 1->2 costs 10 direct; 1->3->2 costs 2+3=5; hop horizon matters
    val e = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L))
      .toDF("src", "dst", "cost")
    val src = Seq(1L).toDF("node_id")
    def run(h: Int) = Graph.shortestPaths(e, src, h, Some("cost"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(run(2) == Map(1L -> 0L, 2L -> 5L, 3L -> 2L))
    assert(run(1)(2L) == 10L, "a 1-hop horizon can only see the direct edge")
    // parallel edges keep the cheapest
    val dup = Seq((1L, 2L, 10L), (1L, 2L, 4L)).toDF("src", "dst", "cost")
    val dd = Graph.shortestPaths(dup, src, 1, Some("cost"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(dd(2L) == 4L)
  }

  test("triangleCounts: K4 plus pendant, star has none") {
    // K4 over 1..4 (4 triangles, 3 per node), pendant 5 on node 1
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = (k4 :+ (1L, 5L)).toDF("src", "dst")
    val t = Graph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
    // a star (hub 0, leaves 1..5) closes no wedge — and duplicate /
    // reversed input edges collapse first
    val star = (1L to 5L).flatMap(l => Seq((0L, l), (l, 0L)))
    val ts = Graph.triangleCounts(star.toDF("src", "dst"))
      .collect().map(r => r.getLong(1)).sum
    assert(ts == 0L)
  }

  test("triangle Bloom sizing: Spark's optimum below the cap, clamped at 10^10 edges") {
    import org.apache.spark.util.sketch.BloomFilter
    Seq(1L, 1000L, 1000000L).foreach { n =>
      assert(BloomFilter.create(n, Graph.triangleBloomBits(n)).bitSize() ===
        BloomFilter.create(n, 0.03).bitSize(), s"$n edges")
    }
    assert(Graph.triangleBloomBits(10000000000L) === (1L << 27))
  }

  test("kCore: triangle core survives, pendant and path peel away") {
    // triangle 1-2-3 with pendant 4 on node 1: 2-core = the triangle
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val core = Graph.kCore(e, k = 2).collect().map(_.getLong(0)).sorted
    assert(core.toSeq == Seq(1L, 2L, 3L))
    // a path has no 2-core — peeling eats it end-in (multi-round)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    assert(Graph.kCore(path, k = 2).count() == 0L)
    // the same path needs >1 round: a 1-round bound must fail fast,
    // never return a partial core
    intercept[IllegalArgumentException](
      Graph.kCore(path, k = 2, maxRounds = 1).collect())
    // k above max degree: empty, converges immediately after one peel
    assert(Graph.kCore(e, k = 5).count() == 0L)
  }

  test("guards: bad damping and zero iterations refuse") {
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException](Graph.pageRank(e, 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(e, 1, dampNum = 100L, dampDen = 100L))
  }

  test("seeded dangling: sink mass teleports to the seeds, hand-folded") {
    // 1 -> 2 only; 2 is a sink. Personalized on {1}: 2's whole rank
    // re-enters at node 1 (dangTotal DIV nSeeds), NOT uniformly — a
    // sink cannot leak mass to non-seed nodes.
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val r = Graph.pageRank(e, 1, seeds = Some(Seq(1L).toDF("node_id")))
      .orderBy("node_id").collect().map(_.getLong(1))
    val perSeed = 2L * BASE
    assert(r(0) == perSeed + 85L * UNIT / 100L) // share = UNIT DIV 1
    assert(r(1) == 85L * UNIT / 100L)           // inflow only, no share
    assert(r.sum == 2L * UNIT, "mass conserved exactly")
  }

  test("shortestPaths: duplicate sources collapse; disjoint sources refuse") {
    val und = Seq((1L, 2L), (2L, 3L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    // a duplicated source id must not fan rows out
    val d = Graph.shortestPaths(e, Seq(1L, 1L, 1L).toDF("node_id"), 2)
    assert(d.count() == 3L)
    assert(d.groupBy("node_id").count().where(col("count") > 1).isEmpty)
    intercept[IllegalArgumentException](
      Graph.shortestPaths(e, Seq(99L).toDF("node_id"), 2))
  }

  test("no cached plans linger after the graph operators run") {
    // the CacheManager is shared JVM-wide across suites — start from a
    // clean slate so the assertion sees only what THESE calls add
    spark.catalog.clearCache()
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
      .withColumn("w", lit(1L))
    Graph.pageRank(e, 3, seeds = Some(Seq(1L).toDF("node_id"))).collect()
    Graph.shortestPaths(e, Seq(1L).toDF("node_id"), 2).collect()
    Graph.triangleCounts(e).collect()
    Graph.connectedComponents(e).collect()
    Graph.hits(e, 2).collect()
    Graph.stronglyConnectedComponents(e).collect()
    // every Dataset.persist goes through the CacheManager, whose strong
    // references outlive the call — the operators must release them
    assert(spark.sharedState.cacheManager.isEmpty,
      "graph operators left persisted frames in the CacheManager")
  }

  test("connectedComponents: chains, stars, isolated pairs, brute-force") {
    // two components: a 5-chain (high diameter for its size) + a pair
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val e = und.toDF("src", "dst")
    val cc = Graph.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      8L -> 8L, 9L -> 8L))
    // a too-small round budget fail-fasts, never a partial labeling
    intercept[IllegalArgumentException](
      Graph.connectedComponents(e, maxRounds = 1))
    // deterministic pseudo-random graph vs driver-side union-find
    val n = 60
    val edges = (0 until 150).map { i =>
      ((i * 31L + 7L) % n, (i * i * 17L + 3L) % n)
    }.filter { case (a, b) => a != b }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => v -> find(v.toInt).toLong).toMap
    val got = Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // self-loops alone contribute nothing; empty input is empty
    assert(Graph.connectedComponents(Seq((7L, 7L)).toDF("src", "dst"))
      .count() == 0L)
  }

  test("stronglyConnectedComponents: cycles, SCC chains, brute-force") {
    // two 3-cycles joined by a ONE-WAY bridge (no merge), plus a
    // dangling feeder: SCCs = {1,2,3}, {4,5,6}, {7}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L), (7L, 1L)).toDF("src", "dst")
    val got = Graph.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
    // a pure DAG chain: every node its own SCC — the FB-Trim peel
    // drains it entirely in ONE outer round (no coloring fixpoint),
    // so even maxRounds = 1 suffices
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val gotChain = Graph.stronglyConnectedComponents(chain, maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // a CHAIN OF 2-CYCLES is trim-proof (every node keeps in+out
    // edges): the coloring+sweep peels one condensation level per
    // round — three levels need three rounds, and a too-small budget
    // fail-fasts rather than returning a partial labeling
    val cyc = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L),
      (4L, 5L), (5L, 6L), (6L, 5L)).toDF("src", "dst")
    assert(Graph.stronglyConnectedComponents(cyc, maxRounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
    intercept[IllegalArgumentException](
      Graph.stronglyConnectedComponents(cyc, maxRounds = 2))
    // 2-cycle with a tail: directions matter ({1,2} strongly connected,
    // 3 reachable but not back)
    val two = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    assert(Graph.stronglyConnectedComponents(two)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // deterministic pseudo-random digraph vs a driver-side
    // transitive-closure (Floyd–Warshall) mutual-reachability fold
    val n = 30
    val edges = (0 until 70).map { i =>
      ((i * 37L + 11L) % n, (i * i * 13L + 5L) % n)
    }.filter { case (a, b) => a != b }.distinct
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
    (0 until n).foreach(i => reach(i)(i) = true)
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    val present = edges.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = present.map { v =>
      v -> present.filter(w =>
        reach(v.toInt)(w.toInt) && reach(w.toInt)(v.toInt)).min
    }.toMap
    val gotR = Graph.stronglyConnectedComponents(edges.toDF("src", "dst"),
        maxRounds = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotR == expected)
    // self-loops alone contribute nothing
    assert(Graph.stronglyConnectedComponents(
      Seq((7L, 7L)).toDF("src", "dst")).count() == 0L)
  }

  test("hits: hand-folded superstep, max-normalization, guards") {
    // 1→3, 2→3, 2→4: node 2 is the best hub (buys from both
    // authorities), node 3 the best authority (bought by both hubs)
    val u = 1000000L
    val e = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val r = Graph.hits(e, iterations = 1)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // authority step: ar = (0, 0, 2u, u), max 2u → a = (0, 0, u, u/2)
    assert(r(3L)._2 === u && r(4L)._2 === u / 2)
    assert(r(1L)._2 === 0L && r(2L)._2 === 0L)
    // hub step: hr = (u, u + u/2, 0, 0), max 1.5u →
    // h(1) = u·u div 1.5u = 666666, h(2) = u
    assert(r(2L)._1 === u && r(1L)._1 === u * u / (u + u / 2))
    assert(r(3L)._1 === 0L && r(4L)._1 === 0L)
    // duplicate edges collapse — same answer
    val dup = Seq((1L, 3L), (1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val r2 = Graph.hits(dup, iterations = 1)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r2 === r)
    intercept[IllegalArgumentException](Graph.hits(e, 0))
    intercept[IllegalArgumentException](
      Graph.hits(e.where(lit(false)), 1).collect())
  }

  test("labelPropagation: two bridged triangles split into two communities") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4; the
    // deterministic synchronous trace lands {1,2,3}->1, {4,5,6}->3
    // after 4 rounds (hand-folded: smallest-label tie-breaks)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val l = Graph.labelPropagation(e, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // exactly two communities, split at the bridge
    assert(l.values.toSet.size === 2)
    // duplicate/reversed edges collapse; self-loops are ignored
    val dirty = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (5L, 4L),
      (5L, 6L), (6L, 4L), (4L, 3L), (7L, 7L)).toDF("src", "dst")
    val l2 = Graph.labelPropagation(dirty, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 === l)
    intercept[IllegalArgumentException](Graph.labelPropagation(e, 0))
  }

  test("connectedComponents: extra rounds are no-ops (fixed-round replay)") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val e = und.toDF("src", "dst")
    val a = Graph.connectedComponents(e, maxRounds = 3)
      .orderBy("node_id").collect().toSeq
    val b = Graph.connectedComponents(e, maxRounds = 16)
      .orderBy("node_id").collect().toSeq
    assert(a == b, "a converged star forest must be a fixpoint")
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) is result-identical") {
    // on a real cluster localCheckpoint blocks are executor-local with no
    // replication — spark.graft.checkpointDir flips every operator
    // materialization to a reliable Dataset.checkpoint (Materialize.ck);
    // results must be bit-identical in both modes, including the observed
    // scalars (read back via an aggregate job in reliable mode)
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 2L), (4L, 2L, 1L),
      (2L, 5L, 1L)).toDF("src", "dst", "w") // node 5 dangles
    val seeds = Some(Seq(2L, 4L).toDF("node_id"))
    val local = Graph.pageRank(e, 3, seeds = seeds)
      .orderBy("node_id").collect().toSeq
    val localCc = Graph.connectedComponents(e.select("src", "dst"), 8)
      .orderBy("node_id").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.operators.Materialize.ConfKey, dir)
    try {
      val reliable = Graph.pageRank(e, 3, seeds = seeds)
        .orderBy("node_id").collect().toSeq
      val reliableCc = Graph.connectedComponents(e.select("src", "dst"), 8)
        .orderBy("node_id").collect().toSeq
      assert(reliable == local)
      assert(reliableCc == localCc)
      // the reliable path really wrote checkpoint data
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .count() > 0, "no reliable checkpoint data written")
    } finally spark.conf.unset(graft.operators.Materialize.ConfKey)
  }
}
