package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured-Streaming operators over the events stream.
  *
  * Every transform below is *plan-shape agnostic*: it accepts either a
  * batch DataFrame (t2 oracle checks run the batch form) or a streaming
  * DataFrame from `readStream`/`MemoryStream` (tested with micro-batches in
  * StreamingSpec). That is the Spark-native way to keep streaming and batch
  * semantics provably aligned — same logical plan, different sink.
  *
  * The reference has no streaming surface (SURVEY.md §1.1); these cover the
  * §2b streaming contract: tumbling/sliding windows, watermarked late-data
  * handling, session windows, and stateful dedup.
  */
object Streams {

  /** Tumbling-window aggregation. For streaming input add a watermark via
    * `withLateData` first. */
  def tumblingAgg(events: DataFrame, tsCol: String = "ts",
                  width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col(tsCol), width))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("sum_value"))

  /** Sliding-window aggregation. */
  def slidingAgg(events: DataFrame, tsCol: String = "ts",
                 width: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col(tsCol), width, slide))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n"), col("sum_value"))

  /** Watermark wrapper: bound state for all downstream windowed/stateful
    * ops; events later than `delay` beyond the max seen ts are dropped. */
  def withLateData(events: DataFrame, tsCol: String = "ts",
                   delay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, delay)

  /** Session windows (gap-based), keyed by user. */
  def sessionAgg(events: DataFrame, tsCol: String = "ts",
                 gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Streaming dedup with bounded state: first event per key wins; state
    * for a key is dropped once the watermark passes it. On a batch frame
    * Spark treats this as plain dropDuplicates. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           tsCol: String = "ts", delay: String = "10 minutes"): DataFrame = {
    val withWm = events.withWatermark(tsCol, delay)
    if (events.isStreaming) withWm.dropDuplicatesWithinWatermark(keys)
    else withWm.dropDuplicates(keys)
  }

  /** Stream-stream interval join: each left event joined to right events
    * of the same key with `rightTs` in `[leftTs - before, leftTs + after]`.
    * Right columns come back `r_`-prefixed. Both sides carry watermarks,
    * so the join state Spark buffers is bounded by the interval plus the
    * watermark delay — the condition every production stream-stream join
    * needs to avoid unbounded state. Batch frames run the identical plan
    * (state bounding simply doesn't apply). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String = "ts", rightTs: String = "ts",
                   before: String = "10 minutes", after: String = "10 minutes",
                   delay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r = right.select(right.columns.map(c => col(c).as(s"r_$c")).toSeq: _*)
      .withWatermark(s"r_$rightTs", delay)
    l.join(r, col(key) === col(s"r_$key") &&
      col(s"r_$rightTs") >= col(leftTs) - expr(s"interval $before") &&
      col(s"r_$rightTs") <= col(leftTs) + expr(s"interval $after"))
  }

  /** Custom keyed state: running per-user event count + running value sum,
    * emitted on every update (mapGroupsWithState, update mode). The §2b
    * "custom state" slot.
    *
    * State bounding: pass `idleTimeout = Some(...)` and a user silent for
    * that long has its totals evicted (and emitted one final time), so a
    * long-running stream's state tracks the active-user set, not the
    * all-time-user set. The default is NO timeout — unbounded state —
    * because a ProcessingTimeTimeout makes the micro-batch engine schedule
    * batches continuously (`shouldRunAnotherBatch` is always true once
    * processing time drives timeouts), which also means
    * `processAllAvailable()` never sees the stream idle; callers that use
    * the timeout must drive the query by trigger, not by drain-and-wait. */
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotals(user_id: Long, n: Long, total: Double)

  /** The state-transition function behind [[runningTotals]], factored out
    * so the timeout-eviction branch is directly unit-testable with
    * `TestGroupState` (the engine only fires processing-time timeouts in
    * a long-running query). */
  private[graft] def updateTotals(idleTimeout: Option[String])(
      user: Long, it: Iterator[UserEvent],
      state: GroupState[UserTotals]): UserTotals =
    if (state.hasTimedOut) {
      // idle eviction: emit the final totals, drop the state
      val last = state.get
      state.remove()
      last
    } else {
      val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
      var n = prev.n
      var tot = prev.total
      it.foreach { e => n += 1; tot += e.value }
      val next = UserTotals(user, n, math.rint(tot * 100) / 100)
      state.update(next)
      idleTimeout.foreach(state.setTimeoutDuration)
      next
    }

  def runningTotals(events: Dataset[UserEvent],
                    idleTimeout: Option[String] = None): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    val timeoutConf = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](timeoutConf)(
        updateTotals(idleTimeout))
  }

  /** First-seen-per-key suppression with TTL'd state — the Spark 4
    * `transformWithState` arbitrary-state API (the successor to
    * `mapGroupsWithState`: typed state variables with NATIVE per-state
    * TTL, timers, and batch parity). A key's first event passes; repeats
    * are suppressed while the `seen` marker lives; the marker EXPIRES
    * after `ttl` of processing time, after which the key re-emits — the
    * at-least-once-replay / late-duplicate absorber a CDC ingest wants,
    * with state bounded by the active-key set over one TTL window
    * instead of growing forever (the eviction `dedupWithinWatermark`
    * gets from event time, here from the state store itself).
    *
    * Engine requirement: `transformWithState` runs only on the RocksDB
    * state store — set `spark.sql.streaming.stateStore.providerClass` to
    * `...RocksDBStateStoreProvider` on the query's session. Batch frames
    * run the same processor over empty initial state (= first row per
    * key). */
  final class FirstSeenProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserEvent] {
    @transient private var seen:
        org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig(ttl))
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserEvent] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows.take(1) }
  }

  def firstSeenWithTtl(events: Dataset[UserEvent],
                       ttl: java.time.Duration): Dataset[UserEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FirstSeenProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** CONTINUOUS near-duplicate detection: each micro-batch of arriving
    * documents probes — and extends — the PERSISTED LSH index
    * ([[graft.operators.Dedup.dedupIncremental]]), so every new doc is
    * checked against the ENTIRE corpus seen so far at batch-sized cost
    * (the probe broadcast-filters the index to the batch's buckets
    * before any shuffle; per-epoch work ∝ batch + collisions, never the
    * index). Emitted pairs per epoch go to `onPairs` — typically a
    * quarantine table or a routing decision for the ingest pipeline.
    *
    * Delivery contract: AT-LEAST-ONCE on the pairs. A crashed epoch
    * re-executes under foreachBatch; the index extension is an ordinary
    * graft CoW upsert keyed by (doc, band), so the re-ingest is
    * idempotent on the INDEX (same doc ids → same `idx_key`s), and the
    * replayed epoch re-emits its pairs. Downstream dedup of the pair
    * stream (id_a, id_b are deterministic) makes it effectively-once —
    * the same discipline CDC consumers apply. At 100 TB the index is a
    * graft table like any other: zone-map routed, compactable,
    * time-travelable. */
  // ---- streaming funnel ------------------------------------------------

  final case class FunnelEvent(user_id: Long, event_type: String,
                               ts: java.sql.Timestamp)
  /** step = next expected index into `steps`; times in micros. */
  final case class FunnelState(step: Int, anchorMicros: Long,
                               lastMicros: Long)
  final case class FunnelCompletion(user_id: Long,
                                    anchor: java.sql.Timestamp,
                                    completed: java.sql.Timestamp,
                                    duration_micros: Long)

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def fromMicros(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
    t
  }

  /** The per-user funnel state machine behind [[streamingFunnel]],
    * factored out for direct `TestGroupState` unit testing. Batch rows
    * sort by (ts, type) before folding, so within-batch order is
    * deterministic; state carries progress ACROSS micro-batches. */
  private[graft] def advanceFunnel(steps: Seq[String], windowMicros: Long)(
      user: Long, it: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[FunnelCompletion] = {
    var st = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
    val out = Seq.newBuilder[FunnelCompletion]
    it.toSeq.sortBy(e => (micros(e.ts), e.event_type)).foreach { e =>
      val m = micros(e.ts)
      if (st.step == 0) {
        if (e.event_type == steps.head) {
          st = FunnelState(1, m, m)
          if (steps.size == 1) {
            out += FunnelCompletion(user, fromMicros(m), fromMicros(m), 0L)
            st = FunnelState(0, 0L, 0L)
          }
        }
      } else if (e.event_type == steps.head &&
          m > st.anchorMicros + windowMicros) {
        // the open attempt expired — a fresh entry event re-anchors
        st = FunnelState(1, m, m)
      } else if (e.event_type == steps(st.step) && m > st.lastMicros &&
          m <= st.anchorMicros + windowMicros) {
        if (st.step + 1 == steps.size) {
          out += FunnelCompletion(user, fromMicros(st.anchorMicros),
            fromMicros(m), m - st.anchorMicros)
          st = FunnelState(0, 0L, 0L)  // converted: eligible again
        } else st = FunnelState(st.step + 1, st.anchorMicros, m)
      }
    }
    if (st.step > 0) state.update(st)
    else if (state.exists) state.remove()
    out.result().iterator
  }

  /** STREAMING strict-order funnel: the per-user state machine of
    * [[graft.operators.EventAnalytics.funnel]] run continuously — one
    * `FunnelCompletion` row per user conversion, emitted in the
    * micro-batch where the final step lands, with progress carried
    * across batches in keyed state (step 1 in one batch, step 2 minutes
    * later in another). An expired attempt re-anchors on the next entry
    * event; a converted user is immediately eligible for another pass.
    * State per user is three numbers — the active-user set bounds it,
    * never the event log. */
  def streamingFunnel(events: Dataset[FunnelEvent], steps: Seq[String],
                      window: String = "24 hours"): Dataset[FunnelCompletion] = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val windowMicros = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(window)) match {
      case iv =>
        require(iv.months == 0, "calendar-month windows are not supported")
        iv.days * 86400000000L + iv.microseconds
    }
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelCompletion](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(advanceFunnel(steps, windowMicros))
  }

  final case class MetricEvent(user_id: Long, event_id: Long,
                               ts: java.sql.Timestamp, value: Double)
  final case class AnomalyState(vals: Seq[Long])
  final case class AnomalyFlag(user_id: Long, event_id: Long,
                               v_scaled: Long, n_prior: Long,
                               is_anomaly: Int)

  /** The per-key detector behind [[streamingAnomalies]], factored for
    * direct `TestGroupState` testing. Batch rows fold in (ts, id)
    * order; state is the trailing ring of the last `lookback` scaled
    * values — bounded per key, carried across micro-batches, and the
    * fold applies EXACTLY [[graft.operators.EventAnalytics
    * .rollingAnomalies]]' integer inequality, so stream ≡ batch row for
    * row (the incremental-dedup parity discipline). */
  private[graft] def advanceAnomaly(lookback: Int, kSigma: Int,
                                    minPrior: Int, scale: Int)(
      user: Long, it: Iterator[MetricEvent],
      state: GroupState[AnomalyState]): Iterator[AnomalyFlag] = {
    var vals = state.getOption.map(_.vals).getOrElse(Seq.empty)
    val out = Seq.newBuilder[AnomalyFlag]
    it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
      val v = math.floor(e.value * scale).toLong
      val n = vals.size.toLong
      val s = vals.sum
      val q = vals.iterator.map(x => x * x).sum
      val d = n * v - s
      val flag = if (n >= minPrior &&
        d * d > kSigma.toLong * kSigma * (n * q - s * s)) 1 else 0
      out += AnomalyFlag(user, e.event_id, v, n, flag)
      vals = (vals :+ v).takeRight(lookback)
    }
    if (vals.nonEmpty) state.update(AnomalyState(vals))
    out.result().iterator
  }

  /** STREAMING rolling anomaly detection: [[graft.operators
    * .EventAnalytics.rollingAnomalies]] run continuously — per-key
    * trailing-window z-score flags emitted in the micro-batch each
    * event arrives in, the trailing ring carried across batches in
    * keyed state (`lookback` longs per ACTIVE key — the active-key set
    * bounds state, never the event log). Exact integer arithmetic
    * everywhere, so a row's flag is identical whether it flowed
    * through this stream or the batch window. */
  def streamingAnomalies(events: Dataset[MetricEvent],
                         lookback: Int = 20, kSigma: Int = 3,
                         minPrior: Int = 8,
                         scale: Int = 1000): Dataset[AnomalyFlag] = {
    require(lookback >= 2, s"lookback must be >= 2 (got $lookback)")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyFlag](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(
        advanceAnomaly(lookback, kSigma, minPrior, scale))
  }

  def dedupIncrementalSink(docs: DataFrame, indexRoot: String,
                           textCol: String, idCol: String,
                           checkpoint: String,
                           shingleK: Int = 3, bands: Int = 8,
                           rowsPerBand: Int = 4, threshold: Double = 0.5,
                           native: Boolean = false)
                          (onPairs: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // an empty trigger must not commit an empty index version
        if (!batch.isEmpty) {
          // the pair append runs CONCURRENTLY with the index commit
          // (independent storage; pairs are checkpointed first) — the
          // epoch's wall time is max(commit, append), not their sum
          graft.operators.Dedup.dedupIncremental(indexRoot, batch,
            textCol, idCol, shingleK, bands, rowsPerBand, threshold, native,
            pairsSink = Some(pairs => onPairs(pairs, epoch))): Unit
        }
      }
      .start()

  /** CONTINUOUS multimodal (Hamming) dedup: each micro-batch of
    * arriving media rows is decoded + perceptually fingerprinted
    * (narrow map — ONLY the batch decodes), probed against the
    * persisted fingerprint index
    * ([[graft.operators.Dedup.hammingIncremental]]), and its
    * fingerprints committed as the next index version. The streaming
    * image-ingest dedup shape: every new image is checked against the
    * whole corpus seen so far at batch cost, through 16-byte
    * fingerprints. `media` must stream rows deserializable as
    * [[graft.multimodal.MediaRecord]]; non-image kinds are ignored.
    * Delivery: AT-LEAST-ONCE on pairs, effectively-once on the index
    * (re-ingest upserts identical keys) — the
    * [[dedupIncrementalSink]] contract.
    *
    * `onError` is the multimodal decode policy
    * ([[graft.multimodal.Multimodal]]): a CONTINUOUS ingest of scraped
    * media WILL see corrupt payloads, and under the default `fail` one
    * bad PNG kills the stream and every restart replays it — set
    * `"skip"` (or `"flag"`, same pairs) so corrupt media drops from the
    * fingerprint feed and the stream survives; audit drops with a
    * flag-mode [[graft.multimodal.Multimodal.quarantineStats]] pass. */
  def imageDedupSink(media: DataFrame, indexRoot: String,
                     checkpoint: String, maxHamming: Int = 2,
                     chunks: Int = 4, onError: String = "fail",
                     probeLayout: Boolean = false,
                     maxBucketWidth: Option[Int] = None)
                    (onPairs: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val ds = batch.as[graft.multimodal.MediaRecord]
        if (!batch.isEmpty && !ds.filter(_.kind == "image").isEmpty) {
          val r = graft.multimodal.Multimodal.imageDedupIncremental(
            indexRoot, ds, maxHamming, chunks, onError = onError,
            probeLayout = probeLayout, maxBucketWidth = maxBucketWidth)
          onPairs(r.pairs, epoch)
        }
      }
      .start()

  /** CONTINUOUS ANN-index maintenance: each micro-batch of arriving
    * embeddings is encoded against the FIXED codebooks (map-side
    * broadcast argmins, zero shuffle) and upserted into a persisted
    * [[graft.operators.Similarity.ivfPqIndexTable]] — per-epoch cost ∝
    * batch + the dirty index files its cells route to, never the index,
    * so freshly-arrived vectors are servable by
    * [[graft.operators.Similarity.ivfPqTopKGraft]] one CoW commit after
    * they land. This is the ingest half of a streaming vector-search
    * deployment; codebooks stay fixed (the FAISS add_with_ids trade —
    * drift is remedied by rebuild, not per-batch retraining).
    *
    * Delivery contract: EFFECTIVELY-ONCE on the index. A crashed epoch
    * re-executes under foreachBatch, and the re-ingest upserts the same
    * (cid, id) keys with the same codes — byte-identical index state, no
    * duplicate rows. `onCommit(version, epoch)` fires per non-empty
    * epoch (index version published, e.g. to trigger a serving-side
    * refresh or a compaction policy). */
  def annIndexSink(vecs: DataFrame, indexRoot: String,
                   cents: Seq[(Long, Seq[Float])],
                   books: Seq[Seq[(Long, Seq[Float])]],
                   vecCol: String, idCol: String, dim: Int,
                   checkpoint: String, native: Boolean = false)
                  (onCommit: (Long, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // an empty trigger must not commit an empty index version
        if (!batch.isEmpty) {
          val v = graft.operators.Similarity.ivfPqIndexIngest(
            batch.sparkSession, indexRoot, batch, cents, books,
            vecCol, idCol, dim, native)
          onCommit(v, epoch)
        }
      }
      .start()

  /** CONTINUOUS BM25-index maintenance — the retrieval twin of
    * [[annIndexSink]]: each micro-batch of arriving documents is
    * tokenized map-side and upserted into the persisted inverted index
    * ([[graft.operators.CorpusPrep.bm25IndexIngest]] — postings +
    * doclen CoW merges, nothing else), so freshly-landed documents are
    * servable by [[graft.operators.CorpusPrep.bm25TopKIndexed]] one
    * commit after they arrive. Per-epoch cost ∝ batch + the dirty
    * posting files its terms route to; the corpus-stats view is not
    * maintained per epoch but caught up by the `statsFromView` query
    * that reads it. The index must be seeded first
    * ([[graft.operators.CorpusPrep.bm25SeedIndex]]); the append-only
    * contract is the batch operator's.
    *
    * Delivery: EFFECTIVELY-ONCE — a crashed epoch re-executes and
    * upserts the same (term, doc) keys to byte-identical rows.
    * `onCommit(version, epoch)` fires per non-empty epoch. */
  def bm25IndexSink(docs: DataFrame, indexRoot: String,
                    textCol: String, idCol: String, checkpoint: String)
                   (onCommit: (Long, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val v = graft.operators.CorpusPrep.bm25IndexIngest(
            indexRoot, batch, textCol, idCol)
          onCommit(v, epoch)
        }
      }
      .start()
}
