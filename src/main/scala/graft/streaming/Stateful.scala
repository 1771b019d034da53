package graft.streaming

import java.util.concurrent.TimeUnit
import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions.{col, timestamp_millis, to_timestamp}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String
import graft.model._

/** The arbitrary-stateful operator family (SURVEY.md §2.5 A6/A7/A8) —
  * the one part of the reference that genuinely needs Spark's
  * arbitrary keyed state rather than declarative aggregation.
  *
  * Every operator of the family (the three below,
  * TrafficPageView.annotate, DwsApps.loginFlags and
  * DwsApps.skuAmountDeltas) runs on [[keyed]]: one shuffle on the key,
  * O(1) state per key folded by a pure [[StateLogic]] step, so state
  * size scales with key cardinality only — the property that lets them
  * run at 100 TB with a RocksDB state store. Works identically over
  * streaming Datasets (micro-batch, state across batches) and batch
  * Datasets (single group pass), which is how the specs pin their
  * semantics. Each operator takes an optional idle TTL (default off)
  * that evicts dormant keys — see [[keyed]].
  */
object Stateful {

  /** Idle-key eviction for [[keyed]]: `eventTime` is the input's event
    * time as a timestamp column; `expiresAtMs(state, batch)` is the
    * event time (epoch ms) after which a key whose state is `state`
    * (after folding `batch`) counts as idle.
    */
  private[graft] final case class Eviction[I, S](eventTime: Column,
                                                 expiresAtMs: (S, Seq[I]) => Long)

  private val DayMs = 86400000L
  private val EventTimeCol = "__graft_event_time"
  private val WatermarkDelay = "1 second"

  /** Epoch millis at the start of a yyyy-MM-dd day (UTC day arithmetic —
    * matches the UTC session timezone every entry point sets).
    */
  private[graft] def dayMs(day: String): Long =
    java.time.LocalDate.parse(day).toEpochDay * DayMs

  /** Eviction of a key idle for `days` of event time after the day
    * `lastDay(state, batch)`; None when `days` is None (eviction off).
    */
  private[graft] def idleDays[I, S](days: Option[Int], eventTime: Column)(
      lastDay: (S, Seq[I]) => String): Option[Eviction[I, S]] =
    days.map(d => Eviction[I, S](eventTime, (s, rows) => dayMs(lastDay(s, rows)) + d * DayMs))

  /** The family's one keyed-state driver: groups `ds` by `key` and
    * folds each key's rows of a micro-batch through `step` (rows and
    * current state → emitted rows and next state). Over a batch Dataset
    * this is a single group pass.
    *
    * It is the only place that knows the timeout policy:
    *  - eviction off, or a batch input: NoTimeout — the plan gets no
    *    watermark and no extra projection;
    *  - eviction on: the event-time column is added and watermarked
    *    (1 s delay) on the typed input, and the group uses
    *    EventTimeTimeout. A timed-out key is removed from the store and
    *    emits nothing; a key returning after that starts from empty
    *    state and re-counts — the reference's StateTtlConfig trade
    *    (DwsTrafficVcChArIsNewPageViewWindow.java:133-136) — so total
    *    state tracks ACTIVE keys, not all-time key cardinality. After
    *    every update the timeout is the key's expiry, clamped to never
    *    fall behind the watermark (Spark rejects that): +1 gives a key
    *    updated past its expiry one more watermark step.
    * Pure model of the eviction: [[StateLogic.expireIfIdle]],
    * property-tested in StatefulProps; store-level eviction and
    * re-count are proven per operator in StatefulEvictionSpec.
    */
  private[graft] def keyed[K: Encoder, I, S: Encoder, O: Encoder](
      ds: Dataset[I], key: I => K, eviction: Option[Eviction[I, S]])(
      step: (K, Seq[I], Option[S]) => (Seq[O], Option[S])): Dataset[O] = {
    val evict = eviction.filter(_ => ds.isStreaming)
    val expiresAt = evict.map(_.expiresAtMs)
    val src = evict.fold(ds)(e => ds.withColumn(EventTimeCol, e.eventTime)
      .withWatermark(EventTimeCol, WatermarkDelay).as[I](ds.encoder))
    src.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append,
        if (evict.isDefined) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout) {
        (k: K, rows: Iterator[I], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove() // dormant key: physically evicted from the store
            Iterator.empty
          } else {
            val batch = rows.toSeq
            val (out, next) = step(k, batch, state.getOption)
            next.foreach { s =>
              state.update(s)
              expiresAt.foreach(at => state.setTimeoutTimestamp(
                math.max(at(s, batch), state.getCurrentWatermarkMs() + 1)))
            }
            out.iterator
          }
      }
  }

  /** A6 — first-seen-per-day dedup (UV derivation).
    * Reference: DwsTrafficVcChArIsNewPageViewWindow.mapUvBean
    * (DwsTrafficVcChArIsNewPageViewWindow.java:120-179) and four
    * sibling apps: keyed ValueState<lastSeenDate>, emit only when the
    * day changes. Emits every (key, day) exactly once; downstream
    * windowed counts of the emissions are exact daily UVs.
    *
    * State is [[BoundedDays]]: the max day ever seen plus the days
    * within [[StateLogic.DefaultRetainDays]] of it — ≤ retainDays+1
    * entries per key FOREVER, independent of stream lifetime (the
    * property that lets this run for years against a RocksDB store).
    * Out-of-order days within the retain window still dedup exactly;
    * older stragglers are dropped as already-seen (the watermark
    * contract). The reference expires its ValueState after 1 day and
    * re-counts a returning key (:133-136); keeping the max day (one
    * string) avoids that double-count — divergence documented in
    * SURVEY §7.4. Transitions live in [[StateLogic.firstSeenStep]] so
    * the bound is property-tested without a Spark job (StatefulProps).
    *
    * `idleTtlDays` evicts a key idle that many days past its max day.
    * A returning key then carries a current day, while a return on an
    * already-counted old day is dropped as late by the watermark — so
    * eviction never produces a visible double-count here; the trade is
    * purely state size.
    */
  def firstSeenPerDay(ds: Dataset[KeyDay], idleTtlDays: Option[Int] = None): Dataset[FirstSeen] = {
    import ds.sparkSession.implicits._
    keyed(ds, (r: KeyDay) => r.key,
      idleDays[KeyDay, BoundedDays](idleTtlDays, to_timestamp(col("day")))((s, _) => s.maxDay)) {
      (key, rows, st0) =>
        var st = st0
        // ascending day order within the batch: every distinct day is
        // strictly greater than the running max, so a single batch
        // emits exactly the distinct (key, day) set regardless of
        // arrival order; the retain window only governs cross-batch
        // stragglers.
        val out = rows.map(_.day).distinct.sorted.flatMap { d =>
          val (emit, next) = StateLogic.firstSeenStep(st, d)
          st = Some(next)
          if (emit) Some(FirstSeen(key, d)) else None
        }
        (out, st)
    }
  }

  /** A8 — is_new repair (DwdBaseLog.isNewFix, DwdBaseLog.java:143-186):
    * a forged is_new=1 flips to 0, and a visitor first seen with
    * is_new=0 predates the pipeline and never counts as new — see
    * [[StateLogic.isNewStep]]. Hits fold in day order for deterministic
    * batch runs.
    *
    * `idleTtlDays` evicts a mid idle that many days past its newest hit
    * (not its first-seen day, which is the state); a returning mid is
    * re-fixed from empty state and may be flagged new once more, the
    * bounded re-count the reference's state TTL accepts.
    */
  def isNewFix(ds: Dataset[VisitorHit], idleTtlDays: Option[Int] = None): Dataset[VisitorHitFixed] = {
    import ds.sparkSession.implicits._
    keyed(ds, (h: VisitorHit) => h.mid,
      idleDays[VisitorHit, String](idleTtlDays, to_timestamp(col("day")))((_, hits) =>
        hits.map(_.day).max)) {
      (_, hits, st0) =>
        var firstDay = st0
        val out = hits.sortBy(_.day).map { h =>
          val (fixed, next) = StateLogic.isNewStep(firstDay, h.day, h.isNew)
          firstDay = Some(next)
          VisitorHitFixed(h.mid, h.day, fixed)
        }
        (out, firstDay)
    }
  }

  /** A7-lite — watermark-bounded exact-duplicate drop: Spark's
    * dropDuplicatesWithinWatermark keeps per-key state only for the
    * watermark window (the reference's 30 s StateTtlConfig at
    * DwsTradeSkuOrderWindow.java:165 is exactly this contract). Use
    * when only the FIRST version of a key matters; upsertDeltas below
    * when later versions must correct earlier ones.
    */
  def dropDupsWithinWatermark(df: org.apache.spark.sql.DataFrame,
                              keys: Seq[String], tsCol: String,
                              watermark: String): org.apache.spark.sql.DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    if (df.isStreaming) wm.dropDuplicatesWithinWatermark(keys)
    else wm.dropDuplicates(keys)
  }

  /** A7 — upsert-correction: per-key retract emulation.
    * Reference: DwsTradeSkuOrderWindow.processBeanStream (:158-201):
    * MapState of last amounts; each re-emission of an order-detail id
    * emits (new − last) so downstream window sums telescope to the
    * latest value without retract streams ([[StateLogic.upsertFold]]).
    *
    * `ttl` (an interval string such as "30 seconds") is the reference's
    * correction window: its per-id MapState carries a 30 s
    * StateTtlConfig (DwsTradeSkuOrderWindow.java:165), accepting that a
    * correction arriving after the TTL re-counts the full amount.
    * Without it state grows with ALL-TIME order-detail-id cardinality —
    * the fastest-growing key space in the warehouse (one key per order
    * line ever); with it, state is O(ids within the correction window).
    */
  def upsertDeltas(ds: Dataset[VersionedAmount], ttl: Option[String] = None): Dataset[AmountDelta] = {
    import ds.sparkSession.implicits._
    val eviction = ttl.map { t =>
      val ttlMs = IntervalUtils.getDuration(
        IntervalUtils.stringToInterval(UTF8String.fromString(t)), TimeUnit.MILLISECONDS)
      Eviction[VersionedAmount, (Long, Long)](timestamp_millis(col("ts")), (s, _) => s._1 + ttlMs)
    }
    keyed(ds, (v: VersionedAmount) => v.key, eviction) { (key, versions, st) =>
      val (out, next) = StateLogic.upsertFold(st, versions)(_.ts, _.amount)
      (out.map { case (v, d) => AmountDelta(key, v.ts, d) }, next)
    }
  }
}
