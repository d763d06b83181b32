package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming layer (SURVEY.md §2.10): the reference's "streaming"
  * is timer-driven batch (setInterval, server.js:444-452); here the same
  * dataflow is a real event-time stream — T5's tumbling-window aggregation
  * with a watermark, runnable over any streaming source.
  *
  * The transformation is UNIFIED: [[hourlyAgg]] is plain DataFrame → DataFrame
  * and is applied identically to a batch read (ScalarQueries t5 semantics)
  * and to readStream — one definition, two execution modes. State at scale:
  * the watermark bounds the window state store; without it a 100 TB stream
  * accumulates every open window forever.
  */
object EventStream {

  /** Tumbling 1-hour event-time aggregation (T5), watermarked at 1 hour:
    * windows close once the event-time high-water mark passes end+1h, so
    * late data beyond that is dropped instead of growing state. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Per-type incremental state carried across micro-batches. */
  case class TypeAgg(event_type: String, max_value: Double, n_events: Long)

  /** A7's running-max as a genuinely INCREMENTAL stateful operator
    * (mapGroupsWithState): the reference recomputes its tip diagnostics from
    * a full scan every 120 s; here per-key state persists in the state store
    * and each micro-batch folds only its own rows in. This is the custom-
    * state extension point (KeyValueGroupedDataset) for anything the built-in
    * windowed aggs can't express. */
  def statefulRunningMax(events: DataFrame): Dataset[TypeAgg] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("event_type"), col("value"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[TypeAgg, TypeAgg](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(
            TypeAgg(key, Double.NegativeInfinity, 0L))
          var mx = prev.max_value
          var n = prev.n_events
          rows.foreach { case (_, v) => mx = math.max(mx, v); n += 1 }
          val next = TypeAgg(key, mx, n)
          state.update(next)
          next
      }
  }

  /** A closed user session (w8's output shape, produced continuously). */
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long,
                     value_cents: Long)

  /** Open-session state carried between micro-batches (epoch micros). */
  case class OpenSession(start: Long, last: Long, n: Long, cents: Long)

  private val GapMicros = 1800L * 1000000L // 30 min, matches batch w8

  /** W8 as a CONTINUOUS operator: flatMapGroupsWithState with an event-time
    * timeout. Sessions close either when a same-user event arrives past the
    * 30-min gap, or when the watermark passes last_event + 30 min (the
    * timeout) — so closed sessions are emitted without waiting for the
    * user's next visit, and per-user state is dropped on timeout. This is
    * the custom-state extension point the built-in windowed aggregations
    * cannot express (variable-length, data-dependent windows). */
  def streamingSessions(events: DataFrame): Dataset[Session] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "1 hour")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[OpenSession]) =>
          def usToTs(us: Long): java.sql.Timestamp = {
            val t = new java.sql.Timestamp(us / 1000000L * 1000L)
            t.setNanos(((us % 1000000L) * 1000L).toInt)
            t
          }
          def close(o: OpenSession): Session =
            Session(uid, usToTs(o.start), usToTs(o.last), o.n, o.cents)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).iterator.toSeq
            state.remove()
            out.iterator
          } else {
            // exact microseconds: getTime is ms-truncated and would diverge
            // from batch w8's unix_micros comparison on sub-ms gaps
            def micros(ts: java.sql.Timestamp): Long =
              ts.getTime / 1000 * 1000000L + ts.getNanos / 1000L
            val sorted = rows.toSeq.sortBy(r => (micros(r._2), r._3))
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { case (_, ts, v) =>
              val t = micros(ts)
              val cents = math.round(v * 100)
              open match {
                case Some(o) if t - o.last > GapMicros =>
                  closed += close(o)
                  open = Some(OpenSession(t, t, 1L, cents))
                case Some(o) =>
                  open = Some(o.copy(last = math.max(o.last, t),
                    n = o.n + 1, cents = o.cents + cents))
                case None =>
                  open = Some(OpenSession(t, t, 1L, cents))
              }
            }
            open.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp((o.last + GapMicros) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup (the d1 operator as a continuous stage): drop
    * rows whose content hash was already seen. State note: with the event-
    * time column excluded from the keys, dropDuplicates keeps seen-hash
    * state indefinitely — correct, but unbounded; the 100 TB variant is
    * dropDuplicatesWithinWatermark (dupes only caught within the horizon),
    * trading completeness for bounded state. Watch for epoch-0 event times:
    * Spark's initial watermark is 0, so such rows are born late and dropped
    * silently before this stage. */
  def streamingDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("content_hash")

  /** The state-bounded variant: duplicates are only detected within the
    * watermark horizon, and seen-hash state ages out with it. */
  def streamingDedupBounded(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** STREAM-STREAM interval join — w9's attribution question asked
    * continuously: each purchase joins the same user's views from the
    * PRECEDING HOUR as both sides flow in. The event-time bound in the
    * join condition is what makes this runnable forever: each side is
    * watermarked, and the range constraint (view_ts ∈ [purchase_ts − 1h,
    * purchase_ts]) lets Spark compute a state-eviction watermark per side
    * — a view is dropped from the join state once the purchase side's
    * watermark passes view_ts + 1h, so state stays bounded by rate ×
    * horizon regardless of stream length. An unconstrained stream-stream
    * join would buffer both streams forever. The definition is UNIFIED:
    * on batch frames the watermark is a no-op and the same join runs as
    * a plain interval join (the stream==batch equality spec drives
    * both). */
  def streamAttribution(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_uid"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(views,
      col("user_id") === col("v_uid") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("view_id"), col("view_ts"))
  }

  /** One emitted trailing-window feature row (batch w11's output shape). */
  case class TrailingFeat(event_id: Long, user_id: Long, ts_sec: Long,
                          n_1h: Long, cents_1h: Long)

  /** Per-user state: per-SECOND totals inside the trailing horizon. Keyed
    * by second (the RANGE frame's granularity), not by event — state size
    * is bounded by horizon seconds, not event rate. */
  case class SecondTotals(secs: List[(Long, Long, Long)])

  private val TrailSec = 3600L // frame width, matches batch w11

  /** W11 as a CONTINUOUS operator — each event is emitted with its
    * same-user count/sum over the trailing hour, the online form of the
    * batch RANGE-frame feature. Per-user state holds per-second totals;
    * the watermark prunes seconds that no in-order future event can still
    * see (second < watermark − horizon) and an event-time timeout drops
    * idle users entirely, so state is bounded by rate × horizon exactly
    * like the stream-stream join's eviction argument. Same-second events
    * are peers (all events in one second share one feature row value),
    * mirroring the batch RANGE semantics. Append-mode caveat, stated
    * rather than hidden: rows already emitted are never retro-updated, so
    * the stream diverges from batch w11 wherever a window's contributors
    * are SPLIT across micro-batches — not only late arrivals, but fully
    * in-order data too (an earlier batch's rows were emitted before a
    * later batch's same-second or same-window peers arrived, so "peer"
    * rows can carry different feature values across the boundary; ADVICE
    * r5). The batch w11 backfill is the reconciliation path for both
    * cases; the one-micro-batch parity spec pins the semantics where no
    * split occurs. */
  def streamingTrailingHour(events: DataFrame): Dataset[TrailingFeat] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[SecondTotals, TrailingFeat](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // epoch seconds: getTime floors to ms, /1000 floors to s —
            // equal to batch w11's unix_micros div 1000000 for any
            // non-negative timestamp
            val evs = rows.toVector
            def sec(ts: java.sql.Timestamp): Long = ts.getTime / 1000L
            val merged = scala.collection.mutable.Map.empty[Long, (Long, Long)]
            state.getOption.foreach(_.secs.foreach { case (t, n, c) =>
              merged(t) = (n, c) })
            evs.foreach { e =>
              val t = sec(e._3)
              val (n, c) = merged.getOrElse(t, (0L, 0L))
              merged(t) = (n + 1L, c + e._4)
            }
            val secs = merged.toArray.map { case (t, (n, c)) => (t, n, c) }
              .sortBy(_._1)
            // exclusive prefix sums → each event's window is two lookups
            val prefN = secs.scanLeft(0L)(_ + _._2)
            val prefC = secs.scanLeft(0L)(_ + _._3)
            val ts = secs.map(_._1)
            def window(t: Long): (Long, Long) = {
              // [t - 3599, t] → half-open prefix indices via binary search
              val lo = { val r = java.util.Arrays.binarySearch(ts, t - (TrailSec - 1L))
                if (r >= 0) r else -(r + 1) }
              val hi = { val r = java.util.Arrays.binarySearch(ts, t)
                if (r >= 0) r + 1 else -(r + 1) }
              (prefN(hi) - prefN(lo), prefC(hi) - prefC(lo))
            }
            val out = evs.map { e =>
              val t = sec(e._3)
              val (n, c) = window(t)
              TrailingFeat(e._1, uid, t, n, c)
            }
            // prune: in-order future events have ts >= watermark, so they
            // can only see seconds >= watermark - (horizon - 1)
            val wmSec = state.getCurrentWatermarkMs() / 1000L
            val kept = secs.filter(_._1 >= wmSec - (TrailSec - 1L))
            state.update(SecondTotals(kept.toList))
            state.setTimeoutTimestamp((secs.last._1 + TrailSec) * 1000L)
            out.iterator
          }
      }
  }

  /** One bucket's current heavy-hitter counters (descending by count). */
  case class HeavyHitters(bucket: Int, users: Seq[Long], counts: Seq[Long])

  /** STREAMING HEAVY HITTERS — pr4's skew probe as a continuous operator:
    * per-bucket SPACE-SAVING counters (Metwally et al.) maintained in
    * mapGroupsWithState. The key space is hash-bucketed so no single task
    * owns the whole stream (the distributed heavy-hitter shape: local
    * top-k per bucket, bounded merge at read time — a GLOBAL single-key
    * state would be the one-task bottleneck). Each bucket keeps at most
    * `cap` counters: a new key past the cap evicts the minimum counter
    * and inherits its value + 1 — the classic overestimate bound (error ≤
    * evicted min), and total counter mass stays EXACTLY the item count
    * (spec-asserted). When a bucket's distinct keys fit the cap, counts
    * are exact and equal the batch groupBy (spec-asserted). State is
    * bounded by buckets × cap forever, independent of stream length. */
  def streamingHeavyHitters(events: DataFrame, nBuckets: Int = 16,
                            cap: Int = 32): Dataset[HeavyHitters] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(u => (((u % nBuckets) + nBuckets) % nBuckets).toInt)
      .mapGroupsWithState[Map[Long, Long], HeavyHitters](GroupStateTimeout.NoTimeout) {
        (bkt, rows, state) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { u =>
            m.get(u) match {
              case Some(c) => m = m.updated(u, c + 1L)
              case None if m.size < cap => m = m.updated(u, 1L)
              case None =>
                // evict the minimum counter (deterministic tie-break by
                // key); the newcomer inherits min + 1 — space-saving's
                // overestimate, which preserves total counter mass
                val (mk, mv) = m.minBy { case (k, c) => (c, k) }
                m = (m - mk).updated(u, mv + 1L)
            }
          }
          state.update(m)
          val top = m.toSeq.sortBy { case (k, c) => (-c, k) }
          HeavyHitters(bkt, top.map(_._1), top.map(_._2))
      }
  }

  /** The current (latest committed) state of ANY versioned merge store,
    * opened through [[graft.Tables.version]] (no inference job) — an
    * empty frame with `schema` (DDL string) before the first commit. */
  def currentStore(s: SparkSession, storeDir: String, schema: String): DataFrame =
    graft.Versions.latest(s, storeDir) match {
      case Some(v) => storeVersion(s, storeDir, v)
      case None => s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    }

  /** Committed version `v` of the store at `storeDir`: its one relation,
    * `state`. */
  private def storeVersion(s: SparkSession, storeDir: String, v: Long): DataFrame =
    graft.Tables.version(s, storeDir, "state", v)

  /** The leaderboard instantiation of [[currentStore]] — the read side of
    * [[leaderboardRefresh]]. */
  def currentLeaderboard(s: SparkSession, storeDir: String): DataFrame =
    currentStore(s, storeDir, LeaderboardSchema)

  private[graft] val LeaderboardSchema =
    "leader_key_address BIGINT, total_mined BIGINT, miner_burned BIGINT"

  /** TIME-TRAVEL read: the leaderboard as of a specific committed version
    * (its foreachBatch batchId) — the reproducibility contract for a
    * consumer that pins a data version (a training run that must see the
    * exact store it saw yesterday). Only the two RETAINED versions
    * ([[graft.Versions]]) are readable: an unpinned version fails loudly
    * with the retained set instead of silently reading a reused directory.
    * The version opens like [[currentStore]]'s: no inference. */
  def leaderboardAt(s: SparkSession, storeDir: String, version: Long): DataFrame = {
    val retained = graft.Versions.committed(s, storeDir)
    require(retained.contains(version),
      s"version $version not retained (have: ${retained.mkString(", ")})")
    storeVersion(s, storeDir, version)
  }

  /** CONTINUOUS INCREMENTAL LEADERBOARD — the serving composition of
    * [[mergeLeaderboard]]: each micro-batch of commits folds into
    * the stored leaderboard via the partial-agg merge, so the store is
    * always queryable and history is never rescanned (T1's cadence
    * without T1's full recompute). foreachBatch is AT-LEAST-once, so the
    * store is BATCH-ID-VERSIONED ([[graft.Versions]], the protocol the
    * serving cache publishes through too) to make the merge idempotent and
    * crash-safe: a replayed batch whose version already committed is
    * skipped (an overwrite of the live store would double-count it). The
    * store is key-cardinality rows — metadata-sized next to the facts. */
  def leaderboardRefresh(commits: DataFrame, storeDir: String,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.ProcessingTime("120 seconds")): StreamingQuery =
    mergeRefresh(commits, storeDir, checkpointDir, LeaderboardSchema,
      mergeLeaderboard, trigger)

  /** GENERIC versioned merge refresh — the leaderboard loop's contract
    * for ANY self-mergeable store: `merge(stored, delta)` must equal the
    * recompute over stored's inputs ∪ delta (the law every member of the
    * merge family satisfies: [[mergeLeaderboard]]'s count/sum,
    * [[mergeQuantileHist]]'s histogram addition, [[mergeUserSketches]]'
    * register-max union). Each micro-batch folds into version `batchId`
    * of the [[graft.Versions]] store, and replayed batch ids are skipped —
    * so the store is always queryable, crash-safe, and time-travelable
    * one version back, and history is never rescanned. */
  def mergeRefresh(delta: DataFrame, storeDir: String, checkpointDir: String,
                   schema: String,
                   merge: (DataFrame, DataFrame) => DataFrame,
                   trigger: Trigger = Trigger.ProcessingTime("120 seconds")): StreamingQuery =
    delta.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMergeBatch(batch, storeDir, batchId, schema, merge)
      }
      .start()

  /** INCREMENTAL AGGREGATE MAINTENANCE: fold a delta of new commits into
    * a stored (miner → total_mined, miner_burned) leaderboard without
    * rescanning history — count and sum are self-mergeable partial
    * aggregates, so the stored table IS the aggregation state and a
    * refresh costs one small-side aggregation plus a keyed merge: at
    * 100 TB the full a1 recompute ([[graft.Pipelines.refreshCache]]'s
    * miner_info) scans the corpus, while this scans only the delta. Works
    * for any algebraic aggregate; avg/stddev would carry (sum, count) /
    * (sum, sum², count) state the same way — max/min merge too, but
    * support deletion only by recompute. PipelinesSpec proves
    * merge(agg(old), delta) == agg(old ∪ delta) exactly. */
  def mergeLeaderboard(stored: DataFrame, delta: DataFrame): DataFrame = {
    val dAgg = delta.groupBy(col("leader_key_address"))
      .agg(count(lit(1)).as("d_mined"), sum(col("burn_fee")).as("d_burned"))
    stored.join(dAgg, Seq("leader_key_address"), "full_outer")
      .select(col("leader_key_address"),
        (coalesce(col("total_mined"), lit(0L)) +
          coalesce(col("d_mined"), lit(0L))).as("total_mined"),
        (coalesce(col("miner_burned"), lit(0L)) +
          coalesce(col("d_burned"), lit(0L))).as("miner_burned"))
  }

  /** INCREMENTAL QUANTILE-STATE MAINTENANCE — the histogram member of the
    * merge family (counts/sums: [[mergeLeaderboard]]): fold a raw events
    * delta into a stored (day, bin, n) histogram by keyed addition.
    * Histogram states are COMMUTATIVE-mergeable, so stored + Δ equals the
    * full recompute EXACTLY (spec-proven), and a22's per-day/global
    * quantiles are read off the maintained state without ever rescanning
    * history. State size: ≤ 201 rows per day regardless of volume or
    * skew. */
  def mergeQuantileHist(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(graft.operators.Aggregations.histState(delta))
      .groupBy(col("day"), col("bin"))
      .agg(sum(col("n")).as("n"))

  /** INCREMENTAL DISTINCT-USER SKETCH MAINTENANCE — the sketch member of
    * the merge family, and the one that makes a19's "reaggregation
    * without rescan" INCREMENTAL too: fold a raw events delta into a
    * stored (day → HLL sketch binary) table. HLL register-max union is
    * commutative, associative, and idempotent-per-observation, so
    * stored ⊔ Δ equals the one-pass sketch REGISTER FOR REGISTER (same
    * estimate, exactly — spec-proven incl. a parquet round-trip of the
    * binary state). It never stores per-user rows: state is one ~kB
    * sketch per day regardless of user cardinality, which is the 100 TB
    * shape for "distinct users per day/week/all-time" — any coarser
    * rollup is an hll_union_agg over the maintained rows. A day arriving
    * in many batches folds correctly: same-day sketches union. */
  def mergeUserSketches(stored: DataFrame, delta: DataFrame): DataFrame =
    stored.unionByName(
        delta.groupBy(col("ts").cast("date").as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk")))
      .groupBy(col("day")).agg(hll_union_agg(col("sk")).as("sk"))

  /** One idempotent store update — exposed so the replay guarantee is
    * directly testable (applying the same batchId twice is a no-op). */
  private[graft] def applyMergeBatch(batch: DataFrame, storeDir: String,
                                     batchId: Long, schema: String,
                                     merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val s = batch.sparkSession
    if (!graft.Versions.latest(s, storeDir).exists(_ >= batchId))
      graft.Versions.publish(s, storeDir, batchId,
        Seq("state" -> merge(currentStore(s, storeDir, schema), batch)))
  }

  private[graft] val SketchSchema = "day DATE, sk BINARY"

  /** CONTINUOUS DISTINCT-USER SKETCH STORE — [[mergeUserSketches]]
    * as a foreachBatch sink (the sketch member of the mergeRefresh
    * family): each micro-batch of events folds into the per-day HLL
    * store by register-max union, so "distinct users per day / week /
    * all-time" is always answerable from ~kB/day of state without
    * rescanning event history. Same versioned/idempotent/replay-safe
    * contract as the leaderboard loop; HLL observation idempotence means
    * even a NON-versioned replay would only be wrong by zero here, but
    * versioning still guards the store against torn writes. */
  def sketchRefresh(events: DataFrame, storeDir: String, checkpointDir: String,
                    trigger: Trigger = Trigger.ProcessingTime("120 seconds")): StreamingQuery =
    mergeRefresh(events, storeDir, checkpointDir, SketchSchema,
      mergeUserSketches, trigger)

  /** Current per-day sketch store (estimate via hll_sketch_estimate). */
  def currentSketches(s: SparkSession, storeDir: String): DataFrame =
    currentStore(s, storeDir, SketchSchema)

  private[graft] val HistSchema = "day STRING, bin BIGINT, n BIGINT"

  /** CONTINUOUS QUANTILE-HISTOGRAM STORE — [[mergeQuantileHist]] as
    * a foreachBatch sink (the histogram member of the mergeRefresh
    * family, completing the serving trio: counts → leaderboardRefresh,
    * distincts → sketchRefresh, quantiles → here): each micro-batch of
    * events folds into the per-(day, bin) integer histogram by keyed
    * addition, so a22's p50/p90/p99 — per day, trailing window (a23), or
    * global — stay answerable from ≤ 201 rows/day of state while events
    * stream in, with the same versioned/idempotent/replay-safe
    * contract. */
  def histRefresh(events: DataFrame, storeDir: String, checkpointDir: String,
                  trigger: Trigger = Trigger.ProcessingTime("120 seconds")): StreamingQuery =
    mergeRefresh(events, storeDir, checkpointDir, HistSchema,
      mergeQuantileHist, trigger)

  /** Current per-(day, bin) histogram store (quantile read: a22's rule). */
  def currentHist(s: SparkSession, storeDir: String): DataFrame =
    currentStore(s, storeDir, HistSchema)

  /** CONTINUOUS NEAR-DUP INGEST — [[graft.operators.Dedup.dedupeIncremental]]
    * as a streaming stage: each micro-batch of documents is admitted
    * against the persisted LSH band index, accepted docs land in
    * `acceptedDir/b=<batchId>`, and the batch's band rows are APPENDED to
    * the index as `stateDir/b=<batchId>` — history files are never
    * rewritten, so per-trigger work is O(batch), not O(corpus). Verdicts
    * equal the batch operator's exactly when doc_ids arrive in
    * nondecreasing batches (ingest order) — StreamingSpec proves
    * stream == one-shot across a 2-batch split.
    *
    * foreachBatch is at-least-once, so both writes are batch-id-keyed
    * overwrites: a replayed batch rewrites its own subdirectories
    * byte-identically and changes nothing else. Replayed band rows
    * already visible in the state are harmless by construction — the
    * rejection predicate requires a collision with a STRICTLY SMALLER
    * doc_id, so a doc's own replayed rows never reject it, and
    * same-batch relative verdicts are id-based, not arrival-based. */
  def dedupIngest(docs: DataFrame, stateDir: String, acceptedDir: String,
                  checkpointDir: String,
                  trigger: Trigger = Trigger.ProcessingTime("120 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDedupBatch(batch, stateDir, acceptedDir, batchId)
      }
      .start()

  /** One idempotent ingest-dedup step (exposed for the replay spec).
    * The batch's signature pass (tokenize → shingle → md5 — the dominant
    * cost) runs ONCE, shared by the verdict joins and the state append.
    * The nondecreasing-id ingest precondition is enforced LOUDLY against
    * a high-water-mark file (`_max_doc_id`, one integer — no state scan):
    * an out-of-order batch would be admitted wrongly (its dups collide
    * only with SMALLER ids) and must fail instead. A replayed batch id is
    * exempt — its ids are ≤ the marker precisely because it already ran. */
  private[graft] def applyDedupBatch(batch: DataFrame, stateDir: String,
                                     acceptedDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val markerPath = new org.apache.hadoop.fs.Path(stateDir, "_max_doc_id")
    val marker: Option[(Long, Long)] = // (lastBatchId, maxDocId)
      if (!fs.exists(markerPath)) None
      else {
        val in = fs.open(markerPath)
        val txt = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
        val Array(b, m) = txt.split(":").map(_.toLong); Some((b, m))
      }
    val bounds = batch.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (bounds.isNullAt(0)) return // empty trigger: nothing to admit
    val (batchMin, batchMax) = (bounds.getLong(0), bounds.getLong(1))
    marker.foreach { case (lastB, maxId) =>
      require(batchId <= lastB || batchMin > maxId,
        s"out-of-order ingest: batch $batchId has min doc_id $batchMin " +
          s"<= already-indexed max $maxId — near-dups of earlier docs " +
          "would be silently admitted")
    }
    val bb = graft.operators.Dedup.bandSignatures(batch).localCheckpoint(true)
    val state =
      if (fs.exists(new org.apache.hadoop.fs.Path(stateDir)))
        // opened with the schema every b=<id> was written with: no
        // inference job. The select drops the b partition column.
        s.read.schema(bb.schema).parquet(stateDir).select("doc_id", "band_idx", "bh")
      else bb.limit(0)
    val verdicts = graft.operators.Dedup.verdictsFor(state, batch, bb)
    batch.join(verdicts.filter(col("accepted")), Seq("doc_id"), "leftsemi")
      .write.mode("overwrite").parquet(s"$acceptedDir/b=$batchId")
    bb.write.mode("overwrite").parquet(s"$stateDir/b=$batchId")
    if (marker.forall(_._1 < batchId)) {
      // written to a temp file and renamed over the marker on close, so a
      // crash mid-write leaves the previous marker whole
      val out = CheckpointFileManager
        .create(markerPath.getParent, s.sparkContext.hadoopConfiguration)
        .createAtomic(markerPath, overwriteIfPossible = true)
      try out.write(s"$batchId:${math.max(batchMax, marker.fold(Long.MinValue)(_._2))}"
        .getBytes("UTF-8"))
      catch { case e: Throwable => out.cancel(); throw e }
      out.close()
    }
  }
}
