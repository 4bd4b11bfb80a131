package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.classic.GraftShims
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The engine's user-defined-extension surface (SURVEY.md §2b "UDx"):
  * scalar UDF, typed UDAF (Aggregator), and table-function (generator)
  * forms. Everything that *can* be a built-in Column expression should be
  * (see TextFunctions/VectorFunctions — codegen beats UDF); these exist for
  * logic that genuinely needs arbitrary Scala.
  */
object Udx {

  // ---- native aggregate: bounded top-k --------------------------------

  /** Column form of exact per-group top-k: `topK(3)(col("score"),
    * col("id"))` inside an agg yields `array<struct<score: double, id:
    * bigint>>`, best first by (score desc, id asc); rows with a null score
    * or id are skipped. Built directly on the native
    * [[graft.plans.TopKAggregate]] (no session registration): its buffer is
    * the current top-k in two fixed arrays, so the partial aggregation
    * discards non-contenders map-side and the shuffle carries at most k
    * entries per group — use instead of a window `row_number` when
    * k << group size. */
  def topK(k: Int): (Column, Column) => Column =
    (score, id) => GraftShims.column(graft.plans.TopKAggregate(
      GraftShims.expression(score.cast("double")),
      GraftShims.expression(id.cast("long")), k).toAggregateExpression())

  // ---- typed UDAF: k-minimum-values distinct sketch --------------------

  /** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.,
    * RANDOM'02; Beyer et al., SIGMOD'07): the buffer is the k SMALLEST
    * DISTINCT hash values seen — mergeable (merge = distinct-union,
    * keep k smallest), bounded at k longs per partial, and — unlike
    * HLL — the sketch supports SET ALGEBRA: the k smallest of A∪B are
    * computable from the two sketches alone, and the Jaccard estimate
    * |S_k(A∪B) ∩ S(A) ∩ S(B)| / |S_k(A∪B)| gives distinct-intersection
    * estimates no union-only sketch can. Fed from the engine-portable
    * polynomial hash ([[TextFunctions.polyHash]]) the WHOLE sketch —
    * not just its accuracy envelope — is deterministic, so an external
    * oracle replays estimates EXACTLY (stronger than the q201/q194
    * pinned-flag discipline). */
  final class KmvAggregator(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    override def zero: Seq[Long] = Seq.empty
    override def reduce(buf: Seq[Long], h: Long): Seq[Long] =
      // at capacity, a value at/above the current k-th minimum can never
      // enter the sketch — short-circuit the common case before the
      // membership scan; otherwise insert into the already-sorted buffer
      // (binarySearch) instead of re-sorting per row
      if (buf.length == k && h >= buf.last) buf
      else {
        val idx = java.util.Arrays.binarySearch(buf.toArray, h)
        if (idx >= 0) buf // already present
        else {
          val at = -idx - 1
          (buf.take(at) :+ h) ++ buf.drop(at).take(k - at - 1)
        }
      }
    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      (a ++ b).distinct.sorted.take(k)
    override def finish(r: Seq[Long]): Seq[Long] = r
    override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Modulus of the portable polynomial hash the KMV helpers assume —
    * hash values are uniform on [0, KmvMod). */
  val KmvMod: Long = 1000000007L

  /** The KMV input hash: [[TextFunctions.polyHash]] finished with a
    * multiplicative SCRAMBLE — (h·2654435761 + 104729) mod KmvMod. The
    * raw polynomial fold of a SHORT string lands near 0 (a 4-char key
    * stays under ~1.2e8), which wrecks the order-statistics estimator;
    * multiplying by a constant mod the prime is a bijection that
    * spreads any input set across [0, KmvMod) (and maps clustered
    * inputs to low-discrepancy residues — at least as kind to a k-th-
    * minimum estimator as uniform randomness). Exact long arithmetic
    * (product < 2^62), replayable verbatim in any 64-bit-integer
    * engine. */
  def kmvHash(text: Column): Column =
    (TextFunctions.polyHash(text) * lit(2654435761L) + lit(104729L)) %
      lit(KmvMod)

  /** Column form: `kmvSketch(64)(col("h"))` inside an agg; `h` must be
    * [[TextFunctions.polyHash]] values (or any deterministic hash on
    * [0, [[KmvMod]])). */
  def kmvSketch(k: Int): Column => Column = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    val fn = udaf(new KmvAggregator(k))
    h => fn(h)
  }

  /** Distinct-count estimate of a KMV sketch column: a sketch smaller
    * than k IS the distinct hash set (exact); at capacity the k-th
    * smallest value h_k estimates density — (k−1)·mod div h_k. The
    * division runs as floor of an exact double quotient: both operands
    * are integers < 2^53 and |a/b − n| ≥ 1/b ≫ ulp for every
    * non-multiple, so the floor equals integer division bit-for-bit in
    * any engine (the oracle uses `//` on the same integers). */
  def kmvEstimate(sketch: Column, k: Int): Column = {
    // the floor-of-double-quotient == integer-division proof needs the
    // numerator exactly representable: (k-1)·mod < 2^52 caps k at ~4.5M
    // (far above any useful sketch size) — enforce it so the bit-for-bit
    // oracle claim can't silently break
    require((k - 1).toLong * KmvMod < (1L << 52),
      s"k=$k exceeds the exact-double bound (k-1)*$KmvMod < 2^52")
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(floor(lit((k - 1).toLong * KmvMod).cast("double") /
        element_at(sketch, k).cast("double")).cast("long"))
  }

  /** The union sketch of two KMV sketches: k smallest of the distinct
    * union — the closure property that makes per-partition / per-group
    * sketches composable. */
  def kmvUnion(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  // ---- typed UDAF: bottom-k quantile-sample sketch --------------------

  final case class HV(h: Long, v: Double)

  /** MERGEABLE QUANTILE summary as a BOTTOM-k-BY-HASH value sample
    * (bottom-k sampling, Cohen & Kaplan PODC'07): the buffer is the k
    * (hash, value) pairs with the SMALLEST hashes seen, hashes drawn
    * from the engine-portable spread hash of each row's UNIQUE key
    * ([[kmvHash]]) — a uniform without-replacement row sample that is
    * pure SET algebra: merge = distinct-union keep k lex-smallest, so
    * the sketch is identical under ANY partitioning/merge topology.
    *
    * That merge-order independence is WHY this is the engine's
    * maintained-state quantile form and not a GK/KLL compactor: a
    * compactor's content depends on the order partials merge (Spark's
    * is nondeterministic run to run), so its estimates could never be
    * replayed bit-for-bit by an external oracle nor be stable as a
    * persisted column — while the bottom-k sample, like [[kmvSketch]]
    * and HLL, is a deterministic function of the DATA alone. The
    * estimator is the sample's lower quantile
    * ([[quantileSampleEstimate]]); rank error obeys DKW: for sample
    * size k, P(|rank(est) − q·n| > ε·n) ≤ 2·exp(−2kε²) — k = 256
    * gives ε = 0.1 at confidence 1 − 3e-3, ε = 0.15 at 1 − 2e-5 —
    * and the error-budget flag is what an oracle lane pins (with the
    * whole sketch ALSO replayable exactly, the q217 discipline,
    * because the draw is the portable hash, not randomness).
    *
    * Maintenance closure (the [[graft.operators.IncrementalAgg]]
    * contract): bottom-k(A ∪ B) is computable from bottom-k(A) and
    * bottom-k(B) alone — any pair in the union's bottom-k is in its
    * own side's — so inserts merge at sketch cost and delta-maintained
    * state EQUALS the full recompute exactly (retractions rescan their
    * group, the HLL asymmetry: a sample member might be deleted). */
  final class QuantileSampleAggregator(k: Int)
      extends Aggregator[HV, Seq[HV], Seq[HV]] {
    require(k >= 2, s"k must be >= 2 (got $k)")
    private val ord: Ordering[HV] = Ordering.by((p: HV) => (p.h, p.v))
    override def zero: Seq[HV] = Seq.empty
    override def reduce(buf: Seq[HV], p: HV): Seq[HV] =
      // at capacity, a pair at/after the current k-th smallest can never
      // enter; otherwise one scan finds the insertion point in the
      // already-sorted buffer (the KmvAggregator discipline)
      if (buf.length == k && ord.gteq(p, buf.last)) buf
      else {
        val at0 = buf.indexWhere(q => ord.gteq(q, p))
        if (at0 >= 0 && buf(at0) == p) buf // already present
        else {
          val at = if (at0 < 0) buf.length else at0
          (buf.take(at) :+ p) ++ buf.drop(at).take(k - at - 1)
        }
      }
    override def merge(a: Seq[HV], b: Seq[HV]): Seq[HV] =
      (a ++ b).distinct.sorted(ord).take(k)
    override def finish(r: Seq[HV]): Seq[HV] = r
    override def bufferEncoder: Encoder[Seq[HV]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[HV]] = ExpressionEncoder()
  }

  /** Column form: `quantileSample(256)(kmvHash(idStr), col("v"))` inside
    * an agg; the hash column must be [[kmvHash]] of a row-unique key.
    * Result type: array<struct<h:long, v:double>>, lex-ordered. */
  def quantileSample(k: Int): (Column, Column) => Column = {
    val fn = udaf(new QuantileSampleAggregator(k))
    (h, v) => fn(h, v)
  }

  /** Union of two quantile-sample sketches: k lex-smallest of the
    * distinct pair union — the closure [[QuantileSampleAggregator]]'s
    * scaladoc proves. Pure Column algebra (struct array_sort orders by
    * (h, v)). */
  def quantileSampleMerge(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** Lower q-quantile of a sketch's value sample: the value at 1-based
    * rank ceil(q·m) of the sorted sample (percentile-disc semantics).
    * `qMicros` is the quantile in EXACT fixed-point millionths — the
    * rank is computed as the integer (qMicros·m + 999999) div 1e6, so
    * no engine's binary-double rendering of 0.9 can shift a rank by
    * one at an exact multiple (the floor-of-double-quotient equals
    * integer division: qMicros·m ≤ 1e6·k < 2^52). NULL for an empty
    * sketch. Pure Column algebra, replayable verbatim. */
  def quantileSampleEstimate(sketch: Column, qMicros: Long): Column = {
    require(qMicros > 0L && qMicros <= 1000000L,
      s"qMicros must be in (0, 1000000] (got $qMicros)")
    val m = size(sketch)
    when(m === 0, lit(null).cast("double"))
      .otherwise(element_at(
        array_sort(transform(sketch, p => p.getField("v"))),
        floor((lit(qMicros) * m + lit(999999L)).cast("double") /
          lit(1000000.0)).cast("int")))
  }

  // ---- typed UDAF: Misra–Gries heavy hitters --------------------------

  final case class TermCount(term: String, cnt: Long)

  /** Misra–Gries / Space-Saving heavy hitters (Misra & Gries 1982): a
    * MERGEABLE bounded summary of term frequencies — the at-scale answer
    * to "top domains/URLs/tokens in 100 TB" when an exact (term, count)
    * shuffle is too wide. Guarantees with budget c over n items: every
    * term with true count > n/(c+1) is PRESENT, and each reported count
    * undercounts by at most n/(c+1); with c >= distinct terms the counts
    * are EXACT (no decrement ever fires — that exactness is what the
    * DuckDB oracle replays). Partial aggregation runs map-side, so the
    * shuffle carries <= c entries per partition; the classic agg-merge
    * trim (subtract the (c+1)-th largest, drop non-positive) keeps the
    * merged buffer bounded. Output sorted (count desc, term asc). */
  final class HeavyHittersAggregator(capacity: Int)
      extends Aggregator[String, Map[String, Long], Seq[TermCount]] {
    require(capacity > 0, "capacity must be positive")
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], term: String): Map[String, Long] = {
      val cur = b.getOrElse(term, 0L)
      if (cur > 0L || b.size < capacity) b.updated(term, cur + 1L)
      else {
        // full and unseen: decrement everyone (the new term cancels out)
        b.flatMap { case (t, c) => if (c > 1L) Some(t -> (c - 1L)) else None }
      }
    }
    override def merge(b1: Map[String, Long],
                       b2: Map[String, Long]): Map[String, Long] = {
      val sum = b2.foldLeft(b1) { case (acc, (t, c)) =>
        acc.updated(t, acc.getOrElse(t, 0L) + c)
      }
      if (sum.size <= capacity) sum
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
        sum.flatMap { case (t, c) =>
          if (c > cut) Some(t -> (c - cut)) else None
        }
      }
    }
    override def finish(r: Map[String, Long]): Seq[TermCount] =
      r.toSeq.sortBy { case (t, c) => (-c, t) }
        .map { case (t, c) => TermCount(t, c) }
    override def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[TermCount]] = ExpressionEncoder()
  }

  /** Column form: `heavyHitters(1024)(col("term"))` inside an agg. */
  def heavyHitters(capacity: Int): Column => Column = {
    val fn = udaf(new HeavyHittersAggregator(capacity))
    term => fn(term)
  }

  // ---- typed UDAF: Bloom-filter bitmap --------------------------------

  /** MERGEABLE Bloom-filter bitmap over pre-hashed bit positions: the
    * at-scale "have we seen this key" summary — one map-side pass builds
    * a fixed-size bitset (merge = bitwise OR), and membership probes are
    * then a broadcast + a few bit tests instead of a corpus-sized join.
    * Never a false NEGATIVE; false-positive rate ~ (1-e^{-kn/m})^k for k
    * hashes / m bits / n keys — size `numBits` to the key cardinality.
    * Positions are computed OUTSIDE the aggregator with Spark's
    * codegen'd `xxhash64` ([[bloomPos]]) so the build and probe sides
    * hash identically by construction. Buffer is numBits/8 bytes
    * (default 1<<18 bits = 32 KiB per partial). */
  final class BloomBitsAggregator(numBits: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(numBits > 0 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64 (got $numBits)")
    override def zero: Array[Long] = new Array[Long](numBits / 64)
    override def reduce(b: Array[Long], pos: Long): Array[Long] = {
      val p = pos.toInt
      b(p >>> 6) |= 1L << (p & 63)
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Column form: `bloomBits(1 << 18)(col("__pos"))` inside an agg. */
  def bloomBits(numBits: Int): Column => Column = {
    val fn = udaf(new BloomBitsAggregator(numBits))
    pos => fn(pos)
  }

  /** Bit position of hash lane `i` for `key` — codegen'd `xxhash64`
    * with the lane index as a second hash input, mod the bitmap size.
    * Shared by the build and probe sides. */
  def bloomPos(key: Column, i: Int, numBits: Int): Column =
    pmod(xxhash64(key, lit(i)), lit(numBits.toLong))

  /** Probe `bits` (the [[bloomBits]] bitmap as `array<long>`) for `key`
    * under `numHashes` lanes: true iff every lane's bit is set. Pure
    * Column bit tests — codegen'd, broadcast-friendly. */
  def bloomProbe(bits: Column, key: Column, numHashes: Int,
                 numBits: Int): Column =
    (0 until numHashes).map { i =>
      val pos = bloomPos(key, i, numBits)
      element_at(bits, (shiftright(pos, 6) + 1).cast("int"))
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(pos, lit(64L)).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)

  // ---- typed UDAF: Count-Min sketch -----------------------------------

  /** MERGEABLE Count-Min sketch (Cormode & Muthukrishnan 2005) over
    * pre-hashed cell positions: the at-scale frequency summary — one
    * map-side pass increments `depth × width` counters (merge =
    * elementwise SUM, the linear-sketch property), the sketch
    * broadcasts, and any key's frequency is then estimated driver-free
    * as the MIN over its `depth` cells. Estimates NEVER undercount
    * (every cell holds the key's true count plus nonnegative collision
    * mass); overcount ≤ e·n/width with probability 1 − e^−depth — size
    * `width` to the distinct-key cardinality and the estimate is exact
    * with near-certainty (the pinnable form, the Bloom-gate
    * discipline). Positions are computed OUTSIDE the aggregator with
    * codegen'd `xxhash64` ([[cmsPos]], lane-offset encoded) so build
    * and probe hash identically by construction; each input row
    * contributes one increment per lane ([[cmsPositions]] explodes the
    * lanes). Buffer is depth·width·8 bytes per partial (the default
    * 4×16384 = 512 KiB). */
  final class CountCellsAggregator(cells: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(cells > 0, s"cells must be positive (got $cells)")
    override def zero: Array[Long] = new Array[Long](cells)
    override def reduce(b: Array[Long], pos: Long): Array[Long] = {
      b(pos.toInt) += 1L
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Column form: `cmsCells(depth * width)(col("__pos"))` inside an agg. */
  def cmsCells(cells: Int): Column => Column = {
    val fn = udaf(new CountCellsAggregator(cells))
    pos => fn(pos)
  }

  /** Cell position of hash lane `lane` for `key` — codegen'd `xxhash64`
    * with the lane as a second hash input, offset into the lane's row of
    * the flattened depth×width array. Shared by build and probe. */
  def cmsPos(key: Column, lane: Int, width: Int): Column =
    lit(lane.toLong * width) + pmod(xxhash64(key, lit(lane)), lit(width.toLong))

  /** All `depth` lane positions for `key` — explode over this on the
    * build side so each row increments one cell per lane. */
  def cmsPositions(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(cmsPos(key, _, width)): _*)

  /** Estimate `key`'s frequency from a [[cmsCells]] sketch (the
    * `array<long>` cells, broadcast-friendly): min over the `depth`
    * lane cells. Pure Column arithmetic — codegen'd. */
  def cmsEstimate(cells: Column, key: Column, depth: Int, width: Int): Column = {
    val lanes = (0 until depth).map { lane =>
      element_at(cells, (cmsPos(key, lane, width) + 1).cast("int"))
    }
    if (lanes.size == 1) lanes.head else least(lanes: _*)
  }

  // ---- scalar UDF ----------------------------------------------------

  /** Scalar UDF example (black-box Scala). Prefer Column expressions when
    * expressible — a UDF breaks codegen and columnar batches. */
  val sigmoid = udf((x: Double) => 1.0 / (1.0 + math.exp(-x)))

  // ---- table function (generator) ------------------------------------

  /** UDTF form: one row per word shingle with its position — `posexplode`
    * over a generated array is Spark's native generator path (no custom
    * Generator class needed). */
  def explodeShingles(text: Column, k: Int): Column =
    posexplode(TextFunctions.shingles(text, k))
}
