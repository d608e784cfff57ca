package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming operators over the events schema
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY §2.13); these are the
  * Spark-first streaming analogues of the batch event queries:
  * watermarked windowed aggregation (late data dropped past the
  * watermark) and custom session state via flatMapGroupsWithState. All
  * state is managed by Spark's state store, so every operator here runs
  * identically on a 1000-executor cluster — state shards by group key,
  * watermarks gate eviction.
  */
object Streams {

  /** Measured state-store budget constants (SCALE.md §Round-11, the
    * per-trigger RocksDB account behind the q62 100× superlinearity):
    * through 30× state never left the memtables (zero flush/SST/block-
    * cache activity) at ≤ [[CleanStateMbPerStore]] MB of WriteBatch
    * volume per store; at [[MeasuredFlushMbPerStore]] MB/store the
    * memtable flushed 304 MB to L0 MID-BATCH and the get path changed
    * class (1.53× per-get — the whole superlinear step). The lever is
    * partitions: the same 100× one-shot at 32 partitions (12.8 MB/store)
    * ran 80.3 s vs ~400 s with flush/SST/block-cache all zero.
    * [[recommendedStatePartitions]] turns that measured clean band into
    * provisioning arithmetic, the way `Dedup.recommendedMaxDf` turned
    * the containment knee curve into API.
    */
  val CleanStateMbPerStore = 15
  /** Per-store WriteBatch volume at which the flush regime was OBSERVED
    * (100× tier, 51.2 MB/store): an upper bound the recommendation must
    * stay well under, not a target.
    */
  val MeasuredFlushMbPerStore = 51
  /** State stores per shuffle partition for a stream-stream join (left/
    * right keyToNumValues + keyWithIndexToValue) — the shape the budget
    * was measured on. A single stateful aggregation/dedup keeps ONE
    * store per partition; pass storesPerPartition = 1 there.
    */
  val JoinStoresPerPartition = 4
  /** Measured WriteBatch bytes per INPUT row for the q62 stream-stream
    * self-join shape (SCALE.md §Round-11: 1638.0 MB over 20 M input
    * rows ≈ 86 B/row) — the per-row constant to feed
    * [[recommendedStatePartitions]] when the state estimate comes from
    * an input-row count rather than a key count.
    */
  val MeasuredJoinStateBytesPerRow = 86L
  /** Measured WriteBatch bytes per STATE KEY for the single-store
    * shapes (SCALE.md §Round-13, StreamWriteProbe one-shot runs where
    * every key is touched exactly once, so totalBytesWritten / keys is
    * exact). These turn [[recommendedStatePartitions]]' hardest input —
    * bytesPerKey — into a published constant per stateful operator:
    *   - windowed agg ([[windowedCounts]]-class): key = (window, group),
    *     value = the agg buffer row — the widest value (count + sum +
    *     the window struct key), hence the largest per-key constant;
    *   - custom sessionize ([[sessionize]]): key = user, value =
    *     SessionState(3 longs) plus the event-time timeout bookkeeping
    *     the flatMapGroupsWithState store carries per key;
    *   - dedup-within ([[dedupWithinWatermark]]): key = the dedup
    *     columns, value = just the expiry timestamp — the smallest.
    * Each measured EXACTLY flat across tiers (agg 97.0 at 10×/30×;
    * session 89.0 at 10×/30×; dedup 49.0 at 10×/30× — SCALE.md
    * §Round-13 table). Keys here are STATE keys (distinct in-horizon
    * groups/users/dedup keys), not input rows — the join constant above
    * is the only per-input-row one, because join state buffers every
    * row.
    */
  val MeasuredWindowedAggStateBytesPerKey = 97L
  val MeasuredSessionStateBytesPerKey = 89L
  val MeasuredDedupStateBytesPerKey = 49L
  /** Measured WriteBatch bytes per STATE KEY for the
    * [[runningTotals]] transformWithState ledger (ValueState[(Long,
    * Long)] per key — SCALE.md §Round-13, StreamWriteProbe `totals`
    * one-shot runs; exactly flat across tiers like the other
    * single-store shapes). Keys = distinct ledger keys EVER SEEN when
    * TTLConfig is NONE (the runningTotals default — this ledger does
    * not evict), or the keys alive inside the TTL horizon when one is
    * set.
    */
  val MeasuredRunningTotalsStateBytesPerKey = 59L

  /** Shuffle partitions that keep per-store streaming state inside the
    * measured memtable-resident band: the smallest n with
    * estimatedKeys·bytesPerKey ≤ n · storesPerPartition ·
    * targetMbPerStore. Derived from, and validated against, the
    * SCALE.md §Round-12 API-path run: the q62 100× shape provisioned
    * through this function reproduces the zero-flush ~80 s result that
    * 32 hand-set stream partitions demonstrated in round 11.
    *
    * Sizing inputs are the caller's state model: for a windowed agg,
    * keys = windows×groups in the watermark horizon and bytesPerKey the
    * row width (storesPerPartition = 1); for a stream-stream join, the
    * buffered in-horizon rows of both sides (or input rows ×
    * [[MeasuredJoinStateBytesPerRow]] for the events shape). On a
    * cluster the result is a spark.sql.shuffle.partitions setting —
    * state scales OUT by key; this chooses how far.
    */
  def recommendedStatePartitions(
      estimatedKeys: Long,
      bytesPerKey: Long,
      targetMbPerStore: Int = CleanStateMbPerStore,
      storesPerPartition: Int = JoinStoresPerPartition): Int = {
    require(estimatedKeys >= 0, s"estimatedKeys must be >= 0, got $estimatedKeys")
    require(bytesPerKey > 0, s"bytesPerKey must be > 0, got $bytesPerKey")
    // STRICTLY below the measured onset: provisioning AT 51 MB/store is
    // provisioning onto the knee itself — the constant's doc says "an
    // upper bound the recommendation must stay well under, not a
    // target", so the bound is exclusive
    require(targetMbPerStore > 0 && targetMbPerStore < MeasuredFlushMbPerStore,
      s"targetMbPerStore must be in (0, $MeasuredFlushMbPerStore) — " +
        s"$MeasuredFlushMbPerStore MB/store is where the flush regime was " +
        s"MEASURED to begin, so it is an exclusive bound, not a target; " +
        s"got $targetMbPerStore")
    require(storesPerPartition > 0,
      s"storesPerPartition must be > 0, got $storesPerPartition")
    val perPartitionBytes =
      targetMbPerStore.toLong * (1L << 20) * storesPerPartition
    // ceil-div without overflow: estimatedKeys*bytesPerKey can reach
    // ~10^16 (100 TB of state), far inside Long, but guard anyway
    val totalBytes =
      try java.lang.Math.multiplyExact(estimatedKeys, bytesPerKey)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"state estimate overflows Long: $estimatedKeys keys x $bytesPerKey B")
      }
    // ceil-div via quotient+remainder (the add-based form could wrap on
    // a near-Long.Max estimate that multiplyExact let through)
    val n = totalBytes / perPartitionBytes +
      (if (totalBytes % perPartitionBytes == 0L) 0L else 1L)
    math.max(1L, math.min(n, Int.MaxValue.toLong)).toInt
  }

  /** [[recommendedStatePartitions]] applied to a session: sets
    * spark.sql.shuffle.partitions (the knob that shards streaming state)
    * and returns the chosen count. Call on the stream's OWN session
    * before building the query — shuffle partitioning is fixed at the
    * first checkpoint, so this is a provisioning-time decision.
    *
    * The applied count is `max(recommended, defaultParallelism)`: the
    * state budget is a FLOOR on partitions, never a ceiling (more
    * partitions = less state per store = still memtable-resident), so
    * recommending below the cluster's core count only idles cores —
    * MEASURED at the 100× one-shot (SCALE.md §Round-12/13): the bare
    * state-budget 28 partitions ran 96.8 s on a 32-core box vs 80.3 s
    * at 32. Callers that genuinely want fewer partitions than cores
    * (e.g. many concurrent streams sharing the cluster) can call
    * [[recommendedStatePartitions]] and set the knob themselves.
    */
  def provisionStatePartitions(
      spark: SparkSession,
      estimatedKeys: Long,
      bytesPerKey: Long,
      targetMbPerStore: Int = CleanStateMbPerStore,
      storesPerPartition: Int = JoinStoresPerPartition): Int = {
    val n = math.max(
      recommendedStatePartitions(
        estimatedKeys, bytesPerKey, targetMbPerStore, storesPerPartition),
      spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }

  /** One-call provisioning for a [[windowedCounts]]-class windowed
    * aggregation: estimatedWindowGroups = distinct (window, group) pairs
    * alive inside the watermark horizon (e.g. hours-of-horizon ×
    * groups-per-hour for a 1-hour tumbling window). Uses the measured
    * [[MeasuredWindowedAggStateBytesPerKey]] and the single store a
    * streaming aggregation keeps per partition — the caller no longer
    * builds a byte model by hand.
    */
  def provisionForWindowedAgg(spark: SparkSession,
      estimatedWindowGroups: Long): Int =
    provisionStatePartitions(spark, estimatedWindowGroups,
      MeasuredWindowedAggStateBytesPerKey, storesPerPartition = 1)

  /** One-call provisioning for [[sessionize]]: estimatedUsers = distinct
    * session keys (users) active inside the watermark horizon — NOT all
    * users ever seen; timeout eviction frees a user's state once the
    * watermark passes its session gap. Constant:
    * [[MeasuredSessionStateBytesPerKey]], one store per partition.
    */
  def provisionForSessionize(spark: SparkSession, estimatedUsers: Long): Int =
    provisionStatePartitions(spark, estimatedUsers,
      MeasuredSessionStateBytesPerKey, storesPerPartition = 1)

  /** One-call provisioning for [[dedupWithinWatermark]] /
    * [[dedupStream]]: estimatedKeys = distinct dedup keys arriving
    * inside the watermark horizon (expired keys evict). Constant:
    * [[MeasuredDedupStateBytesPerKey]], one store per partition.
    */
  def provisionForDedupWithin(spark: SparkSession, estimatedKeys: Long): Int =
    provisionStatePartitions(spark, estimatedKeys,
      MeasuredDedupStateBytesPerKey, storesPerPartition = 1)

  /** One-call provisioning for the [[runningTotals]] /
    * [[runningTotalsWarmStart]] transformWithState ledger:
    * estimatedKeys = distinct ledger keys ever seen (TTLConfig.NONE
    * means this state never evicts — size for the FULL key space), or
    * the in-horizon keys when a TTL bounds it. Constant:
    * [[MeasuredRunningTotalsStateBytesPerKey]], one store per
    * partition. Completes the provisioning family: every stateful
    * entry point in this object now provisions from a key estimate
    * alone.
    */
  def provisionForRunningTotals(spark: SparkSession, estimatedKeys: Long): Int =
    provisionStatePartitions(spark, estimatedKeys,
      MeasuredRunningTotalsStateBytesPerKey, storesPerPartition = 1)

  /** File-based event stream: the same parquet dir the batch path reads,
    * consumed incrementally (one file per trigger by default).
    */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // Schema comes from the existing files, read from one footer on the
    // driver (no inference job); an empty directory would surface as
    // Spark's generic UNABLE_TO_INFER_SCHEMA — name the actual problem
    // instead (a stream over a dir with no data yet needs an explicit
    // schema, which this convenience reader is not).
    val schema =
      try graft.core.ParquetFooter.schema(spark, dir)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getErrorClass == "UNABLE_TO_INFER_SCHEMA" =>
          throw new IllegalArgumentException(
            s"eventsStream($dir): directory holds no parquet files to " +
              "infer the stream schema from — stage data first, or build " +
              "the readStream with an explicit schema.", e)
      }
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
  }

  /** Watermarked tumbling-window counts per event type — the streaming
    * analogue of q32_events_window. Late events drop once their WINDOW
    * END falls at/behind the watermark (the engine filters on window
    * end against the PREVIOUS batch's watermark — the measured rule
    * WmProbeSpec pins and q237's oracle replays, not a raw ts test);
    * windows finalize (append mode) once the watermark passes their
    * end. State = in-horizon windows × types, one
    * store per partition: one call to [[provisionForWindowedAgg]]
    * (estimated in-horizon windows × groups; the 97 B/key constant is
    * measured) keeps per-store state in the memtable-resident band.
    */
  def windowedCounts(events: DataFrame,
      windowLen: String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, lastTs: Long, nEvents: Long)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
      n_events: Long)

  /** Custom sessionization with an event-time gap rule: a session closes
    * when a new event arrives more than `gapMs` after the previous one
    * (same rule as batch q34_sessionize), OR when the watermark passes
    * `lastTs + gapMs` with no new event — the event-time-timeout path
    * that (a) emits each user's FINAL session instead of holding it open
    * forever and (b) evicts the user's state, so the state store is
    * bounded by the set of users active inside the watermark horizon,
    * not by every user ever seen. The timeout rule is also applied AT
    * ARRIVAL when it is already true: a straggler admitted against the
    * previous batch's watermark (the engine's late-filter rule,
    * WmProbeSpec) can merge into a session whose `lastTs + gap` the
    * CURRENT watermark has already passed — that session emits
    * immediately (arming the now-illegal timeout used to kill the whole
    * query; SessionStragglerProbeSpec pins the tape). Emits closed
    * sessions; state per user is O(1) while it lives. One state store
    * per partition: one call to [[provisionForSessionize]] (estimated
    * in-horizon users; the 89 B/key constant is measured) sizes the
    * session's shuffle partitions.
    */
  /** Timestamp ↔ epoch-microseconds (Timestamp.getTime alone is millis
    * and silently truncates the µs precision the events carry).
    * FLOOR division/modulo, not truncation: getTime of a pre-epoch
    * timestamp is negative, and `-500 / 1000 * 1000000` rounds toward
    * zero — a 1969 event came out a full second off WITH THE WRONG
    * SIGN, corrupting sort order and gap arithmetic. (getNanos is
    * already the non-negative sub-second part, so only the seconds
    * component needs the floor.)
    */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def tsFromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def sessionize(spark: SparkSession, events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000,
      lateness: String = "30 minutes"): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMs * 1000L
    events
      // A null event time participates in NO session — the same null
      // semantics Spark's native event-time operators apply (window()
      // and session_window() expand a null ts to zero windows, so the
      // row silently drops). Without this filter the row reaches
      // micros(e.ts) inside the state function and kills the whole
      // query with an executor NPE — found by the round-10 degenerate-
      // input probe; StreamingSpec pins the drop. (Column filter, not a
      // typed lambda: stays in codegen, no per-row deserialization.)
      .where(col("ts").isNotNull)
      // EventTimeTimeout requires a watermark; it also gives sessionize
      // the standard late-data contract — with the measured caveats
      // (WmProbeSpec) that the engine filters against the PREVIOUS
      // batch's watermark, and drops on raw ts <= wm (a row exactly AT
      // the watermark never reaches this function; strictly-newer rows
      // do), so in-horizon-by-one-batch stragglers still arrive here;
      // the arrival-time timeout branch below is what keeps them from
      // corrupting (or crashing) anything.
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastTs + gap with no newer event: no
            // in-horizon event can extend this session (anything later
            // would start a new one), so emit it and free the state —
            // the eviction that keeps per-user state watermark-bounded
            // on an unbounded stream.
            val out = state.getOption.map(s => Session(userId,
              tsFromMicros(s.start), tsFromMicros(s.lastTs), s.nEvents))
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Vector.newBuilder[Session]
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.lastTs <= gapUs =>
                  // Out-of-order (in-horizon) events from a LATER batch
                  // can carry t below lastTs or even below start; merge
                  // with min/max so the interval never regresses —
                  // unconditional lastTs = t used to move the session end
                  // BACKWARD, emitting end < start. With lateness <= gap
                  // (the default), every in-horizon old event within gap
                  // of lastTs merges into the OPEN session correctly.
                  // DOCUMENTED LIMIT: a session already CLOSED (emitted
                  // on arrival of a later event, below) cannot be
                  // recalled — an in-horizon bridging event landing in a
                  // later batch between an emitted session and the open
                  // one yields two sessions where the batch gap rule
                  // (q34) merges them into one. Emit-on-arrival is the
                  // deliberate low-state trade of this CUSTOM operator;
                  // the exact arrival-order-independent form is Spark's
                  // native session_window (q125 batch / q135 stream),
                  // whose state store holds sessions until the watermark
                  // proves no bridge can arrive.
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.lastTs, t), s.nEvents + 1))
                case Some(s) =>
                  closed += Session(userId, tsFromMicros(s.start),
                    tsFromMicros(s.lastTs), s.nEvents)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              // Ceil to ms so the timeout never fires before the gap has
              // truly elapsed in µs event time.
              val timeoutMs = (s.lastTs + gapUs + 999L) / 1000L
              val wmMs = state.getCurrentWatermarkMs()
              if (timeoutMs < wmMs) {
                // The watermark has ALREADY passed lastTs + gap. Reachable
                // because the late filter admits events against the
                // PREVIOUS batch's watermark (SPARK-40925, pinned by
                // WmProbeSpec): a straggler arriving after a > gap
                // event-time jump between triggers merges here while the
                // CURRENT watermark sits beyond its session's timeout —
                // and setTimeoutTimestamp(timeoutMs) would then throw
                // "timeout cannot be earlier than the current watermark"
                // and kill the WHOLE query (measured; pinned by
                // StreamingSpec's straggler test). The documented timeout
                // rule ("emit when the watermark passes lastTs + gap with
                // no new event") is already TRUE for this session, so
                // apply it at arrival: emit now, keep no state — the same
                // strict-< firing boundary the q127 oracle pins.
                closed += Session(userId, tsFromMicros(s.start),
                  tsFromMicros(s.lastTs), s.nEvents)
                state.remove()
              } else {
                state.update(s)
                // timeoutMs >= current watermark, so the arm is legal
                // (Spark requires only not-earlier-than); at equality the
                // timeout fires on the next watermark ADVANCE, preserving
                // the strict-< firing rule.
                state.setTimeoutTimestamp(timeoutMs)
              }
            }
            closed.result().iterator
          }
      }
  }

  /** Spark's NATIVE session_window under readStream — the declarative
    * streaming counterpart of batch q125 and the custom stateful
    * [[sessionize]]. The state-store operator merges overlapping
    * [ts, ts+gap] windows per user (inclusive at exactly the gap, same
    * rule as batch — pinned by OperatorsSpec), and append mode emits a
    * session only once the watermark passes its END (= last event ts +
    * gap), which is also when its state is evicted — so state is
    * watermark-bounded by construction, with none of the hand-rolled
    * timeout bookkeeping sessionize needs. Output end = last ts + gap
    * (the window end), not last ts as sessionize emits.
    */
  def sessionWindowAgg(events: DataFrame,
      gap: String = "30 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"))

  /** Watermarked streaming deduplication of exact (key, ts) duplicates —
    * the event-time column IS part of the dedup identity, so a retried
    * event with the same key but a different ts passes through (for
    * key-only dedup use [[dedupWithinWatermark]], whose doc correctly
    * described this function's semantics while this one overclaimed
    * "exactly-once per key"). State for a (key, ts) is dropped once the
    * watermark passes, so state size tracks the horizon, not the stream.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicates(keyCols :+ "ts")

  /** Native `dropDuplicatesWithinWatermark` (Spark 3.5+) — dedup on
    * the KEY ALONE, no event-time column in the key: two rows with the
    * same key dedup when they arrive within the watermark delay of
    * each other, and the key's state evicts once the watermark passes
    * its expiry instead of living forever (the failure mode of a plain
    * streaming `dropDuplicates(keys)` on an unbounded stream). The
    * complement of [[dedupStream]], which dedups exact (key, ts)
    * duplicates. Both dedup operators keep one store per partition —
    * one call to [[provisionForDedupWithin]] (estimated in-horizon
    * distinct keys; the 49 B/key constant is measured — and validated
    * at the failing tier: 10 M keys unprovisioned flushed 165 MB
    * mid-batch at 24.9 s, provisioned ran 8.8 s zero-flush) sizes the
    * partitions.
    *
    * EVICTION BOUNDARY (measured, pinned by DedupEvictionProbeSpec):
    * the within-delay guarantee ends at a precise batch edge — a
    * duplicate arriving in the SAME batch whose watermark evicts its
    * key still dedups (state drops at batch END), one batch later it
    * EMITS AGAIN; and a deduped duplicate does NOT extend its key's
    * state lifetime (expiry stays anchored to the FIRST occurrence's
    * event time). Downstream consumers needing global uniqueness must
    * still dedup at rest ([[graft.operators.Dedup.exact]]).
    */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream join with both sides watermarked and a join range
    * condition — Spark buffers only the watermark-bounded window of
    * each side, so the join state is bounded at any scale. `joinType`
    * "inner" (default) emits matches as they arrive; "left_outer"
    * additionally emits an unmatched left row with nulls once the
    * watermark proves no future right can match it (left state value
    * watermark = wm − maxGap), which is also the moment its state is
    * evicted. This is the shape the state-write budget was MEASURED on
    * (SCALE.md §Round-11; [[JoinStoresPerPartition]] stores per
    * partition): provision spark.sql.shuffle.partitions with
    * [[recommendedStatePartitions]] / [[provisionStatePartitions]] so
    * per-store state stays under the flush threshold — the validated
    * lever behind the 100× 80 s-vs-400 s result.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      lateness: String = "30 minutes",
      maxGap: String = "15 minutes",
      joinType: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val l = left.withWatermark("ts", lateness)
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("l_event"))
    val r = right.withWatermark("ts", lateness)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_event"))
    l.join(r, expr(
      s"""l_user = r_user AND l_event < r_event AND
          r_ts BETWEEN l_ts AND l_ts + INTERVAL $maxGap"""), joinType)
  }

  /** Stream-static enrichment: join each arriving event against a batch
    * dimension table — the most common streaming shape (attach user /
    * customer attributes at ingest). No state store at all: Spark plans
    * the static side as a per-microbatch broadcast (or shuffled) join,
    * so state is zero and the dimension can be swapped between batches.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    // Seq-form join when the two sides share the key name: the
    // expression form keeps BOTH key columns, so the common
    // enrichWithDim(e, d, "user_id", "user_id") call returned a frame
    // where any downstream reference to user_id hit AMBIGUOUS_REFERENCE
    if (eventKey == dimKey) events.join(dim, Seq(eventKey))
    else events.join(dim, events(eventKey) === dim(dimKey))

  /** Stream-static LEFT ANTI join: pass through only events whose key is
    * absent from the (batch) `known` set — the at-ingest "drop
    * already-known documents" stage of a streaming dedup pipeline. Like
    * [[enrichWithDim]] this keeps NO state store: the static side is
    * re-planned per microbatch (broadcast when small), so the known-set
    * snapshot can grow between batches without restarting the query.
    */
  def filterKnownKeys(events: DataFrame, known: DataFrame,
      eventKey: String, knownKey: String): DataFrame =
    events.join(known, events(eventKey) === known(knownKey), "left_anti")

  final case class UserTotals(user_id: Long, n_events: Long, value_c: Long)

  /** Spark 4's `transformWithState` arbitrary-state API (the
    * successor to `flatMapGroupsWithState`): per-user running
    * (event count, value-cents total) held in a typed `ValueState`.
    * Each input batch folds its rows into the state and emits the
    * updated totals — the streaming-ledger shape (feature counters,
    * usage metering). State is one (long, long) per user in the
    * RocksDB store, sharded by key on a cluster; `TTLConfig` is the
    * built-in eviction lever for unbounded key spaces (NONE here —
    * the gate replays a finite tape).
    */
  /** Running per-user totals over a (user_id, value_cents) stream via
    * [[WarmStartTotalsProcessor]] with no initial state (the
    * WithInitialState subclass IS a StatefulProcessor, so the cold and
    * warm paths share ONE fold/state implementation — a previous
    * verbatim-duplicate cold-path class risked silent divergence).
    * Update output mode: one emission per touched user per trigger,
    * counters monotone — the LAST emission per user is the final
    * ledger entry. State = one (long, long) per user ever seen (no TTL
    * here), one store per partition: one call to
    * [[provisionForRunningTotals]] (estimated distinct keys; the
    * 59 B/key constant is measured — and validated at the failing
    * tier: the 10 M-key incremental shape runs 2.1× faster provisioned,
    * 18.7 vs 39.5 s, with the get path fully memtable-resident) sizes
    * the partitions. SHAPE CAVEAT (measured, SCALE.md §Round-13): this
    * v2 stateful operator writes a full base SNAPSHOT at its first
    * commit (flush+SST ≈ the compressed state volume) even with
    * changelog checkpointing enabled — an account the append-mode
    * shapes don't pay per-commit, so "zero flush" is NOT the health
    * signal here; zero block-cache activity on the get path is.
    */
  def runningTotals(pairs: Dataset[(Long, Long)]): Dataset[UserTotals] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.groupByKey(_._1)
      .transformWithState(new WarmStartTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** The running-totals ledger processor, optionally WARM-STARTED: the
    * batch-bootstrap pattern (rebuild a ledger from yesterday's
    * snapshot, then stream today's events on top).
    * `handleInitialState` seeds each key's ValueState from the batch
    * snapshot BEFORE any input rows arrive; seeding emits nothing —
    * only keys touched by live rows emit, and their totals include the
    * seeded history. Used WITHOUT an initial state by [[runningTotals]]
    * (handleInitialState simply never fires).
    */
  private class WarmStartTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), UserTotals, (Long, Long)] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: (Long, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit = {
      // MERGE, never overwrite: a snapshot with duplicate keys (a union
      // of partial snapshots is the realistic producer) fires this once
      // per row, and update(initial) kept only whichever row applied
      // last — silently dropping the other rows' history. Summing makes
      // the seed the deterministic merge of every row for the key.
      val (n0, v0) = if (totals.exists()) totals.get() else (0L, 0L)
      totals.update((n0 + initial._1, v0 + initial._2))
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotals] = {
      var (n, v) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { case (_, c) => n += 1; v += c }
      totals.update((n, v))
      Iterator.single(UserTotals(key, n, v))
    }
  }

  /** [[runningTotals]] seeded from a batch snapshot of
    * (user_id, (n_events, value_c)). */
  def runningTotalsWarmStart(pairs: Dataset[(Long, Long)],
      initial: Dataset[(Long, (Long, Long))]): Dataset[UserTotals] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.groupByKey(_._1)
      .transformWithState(new WarmStartTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        initial.groupByKey(_._1).mapValues(_._2))
  }

  /** Run a stream to completion against the (finite) file source and
    * return the sink table — used by tests and demos; production callers
    * keep the query running with their own trigger/checkpoint config.
    */
  def runToCompletion(spark: SparkSession, out: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    // stop() must run on EVERY exit path — processAllAvailable throwing,
    // the trace dump throwing, an interrupt landing between them: a
    // leaked live query keeps polling the file source for the JVM
    // lifetime, competing with every later query. One try/finally covers
    // all of it (the old shape re-ran stop() outside the protected
    // region for the trace block).
    try {
      q.processAllAvailable()
      // GRAFT_STREAM_TRACE=1: dump per-trigger progress (planning,
      // addBatch, state-store commit, per-operator state metrics) to
      // stderr — the instrumentation behind SCALE.md's stream-cost
      // floor breakdown.
      if (sys.env.contains("GRAFT_STREAM_TRACE"))
        q.recentProgress.foreach { p =>
          val d = p.durationMs
          def ms(k: String) = Option(d.get(k)).map(_.toString).getOrElse("-")
          System.err.println(s"[stream $name] batch=${p.batchId} rows=${p.numInputRows} " +
            s"triggerMs=${ms("triggerExecution")} planMs=${ms("queryPlanning")} " +
            s"addBatchMs=${ms("addBatch")} offsetsMs=${ms("latestOffset")}/${ms("walCommit")} " +
            s"commitMs=${ms("commitOffsets")} stateOps=[" +
            p.stateOperators.map(so => s"${so.operatorName}:rows=${so.numRowsTotal}," +
              s"commitMs=${so.commitTimeMs},mem=${so.memoryUsedBytes}").mkString(" ") + "]")
        }
    } finally q.stop()
    spark.table(name)
  }

  /** Bounded PROBE sink (r13 verdict #6): [[runToCompletion]]'s memory
    * sink collects EVERY emitted row to the driver, which at scale-probe
    * tiers becomes the envelope before the operator does (q127's 300×
    * DNF was the test sink's 28.6 M-row collect, and it cascaded into
    * the same batch's q94 row — SCALE.md §Round-13 cont.). This sink
    * reduces each micro-batch to ONE driver-side row via a distributed
    * aggregate — row count + an order-independent XOR of per-row
    * xxhash64 fingerprints (xor never overflows, so it is safe under
    * ANSI mode where a SUM of hashes would throw) — so operator scaling
    * is measurable past the collect envelope while the emitted set
    * still carries a verifiable fingerprint. Returns (rows, xorHash).
    * Probe plumbing only — the oracle gates keep the memory sink, which
    * hands DuckDB the actual rows.
    */
  def runToCompletionBounded(spark: SparkSession, out: DataFrame,
      outputMode: String = "append"): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val hash = new java.util.concurrent.atomic.AtomicLong(0L)
    val cols = out.columns.map(c => s"`$c`").mkString(", ")
    val q = out.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val r = batch.agg(count(lit(1)).as("n"),
          coalesce(expr(s"bit_xor(xxhash64($cols))"), lit(0L)).as("h")).head()
        rows.addAndGet(r.getLong(0))
        // xor-merge across batches: batch order can never matter
        hash.updateAndGet(h => h ^ r.getLong(1))
        ()
      }
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable() finally q.stop()
    (rows.get, hash.get)
  }
}
