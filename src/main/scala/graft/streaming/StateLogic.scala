package graft.streaming

import java.time.LocalDate

/** Bounded per-key day state: the max day ever seen plus the set of
  * days within `retainDays` of it. Total size ≤ retainDays entries per
  * key, independent of stream lifetime — the property that lets the A6
  * family run for years at 100 TB (a RocksDB store holds
  * O(keys × retainDays), not O(keys × days-of-history)).
  *
  * Days that arrive more than `retainDays` behind the max are treated
  * as already seen and dropped — the watermark contract. The reference
  * instead expires its ValueState after 1 day
  * (DwsTrafficVcChArIsNewPageViewWindow.java:133-136), which
  * RE-COUNTS a returning key after expiry; we keep the max day
  * forever (one string) so a key is never double-counted, and bound
  * only the out-of-order tolerance window.
  */
case class BoundedDays(maxDay: String, recent: Set[String])

/** Pure state transitions for the stateful family — the steps that
  * [[Stateful.keyed]] folds each key's micro-batch through, kept apart
  * from Spark so properties (state bound, exactness, replay
  * monotonicity) are testable without a Spark job.
  */
object StateLogic {

  /** Default out-of-order tolerance (days behind the max still
    * deduplicated exactly rather than dropped).
    */
  val DefaultRetainDays = 7

  private def minusDays(day: String, n: Int): String =
    LocalDate.parse(day).minusDays(n.toLong).toString

  /** One first-seen-per-day step. Returns (emit, nextState):
    * emit=true iff `day` is new for this key and within the retain
    * window. State stays ≤ retainDays entries (maxDay + recent days
    * strictly inside (maxDay − retainDays, maxDay)).
    */
  def firstSeenStep(st: Option[BoundedDays], day: String,
                    retainDays: Int = DefaultRetainDays): (Boolean, BoundedDays) =
    st match {
      case None => (true, BoundedDays(day, Set.empty))
      case Some(BoundedDays(maxDay, recent)) =>
        if (day > maxDay) {
          val cutoff = minusDays(day, retainDays)
          (true, BoundedDays(day, (recent + maxDay).filter(_ > cutoff)))
        } else if (day == maxDay || recent.contains(day)) {
          (false, BoundedDays(maxDay, recent))
        } else if (day > minusDays(maxDay, retainDays)) {
          (true, BoundedDays(maxDay, recent + day))
        } else {
          // older than the retain window: treat as seen (late-data drop)
          (false, BoundedDays(maxDay, recent))
        }
    }

  /** Dormant-key eviction model (VERDICT r2 #1): a key whose newest
    * activity (`maxDay`) has fallen `idleDays` or more behind the
    * stream's watermark day is EVICTED — its state becomes None, so a
    * returning key re-counts exactly like the reference's 1-day
    * StateTtlConfig (DwsTrafficVcChArIsNewPageViewWindow.java:133-136).
    * This trades bounded re-counts for total state that tracks ACTIVE
    * keys (keys seen within the TTL window) instead of all-time key
    * cardinality — the difference between O(daily actives) and
    * O(years of visitors) state at 100 TB. The Spark-side enforcement
    * is the EventTimeTimeout of [[Stateful.keyed]] when an operator is
    * given an idle TTL; this pure form is what the properties replay.
    */
  def expireIfIdle(st: Option[BoundedDays], watermarkDay: String,
                   idleDays: Int): Option[BoundedDays] =
    st.filter(_.maxDay > minusDays(watermarkDay, idleDays))

  /** One login-window step (DwsUserUserLoginWindow semantics with the
    * reorder guard): emit uu only when `day` strictly advances past
    * the stored last day, so a replayed or out-of-order older day can
    * neither re-emit nor regress the state. Returns
    * (emitUu, backFlow, nextLastDay).
    */
  def loginStep(lastDay: Option[String], day: String,
                gapDays: Int): (Boolean, Boolean, String) =
    lastDay match {
      case None => (true, false, day)
      case Some(last) if day > last =>
        val gap = java.time.temporal.ChronoUnit.DAYS.between(
          LocalDate.parse(last), LocalDate.parse(day))
        (true, gap > gapDays, day)
      case Some(last) => (false, false, last) // same or older day: no-op
    }

  /** One is_new repair step (DwdBaseLog.isNewFix, DwdBaseLog.java:143-186).
    * `firstDay` is the visitor's first-seen day, "" for a visitor known
    * to predate the pipeline:
    *  - is_new=1 but first seen on an earlier day → forged, flip to 0;
    *  - is_new=0 and never seen → the visitor predates the pipeline:
    *    record "" (before any day) so they never count as new.
    * Returns (fixedIsNew, nextFirstDay).
    */
  def isNewStep(firstDay: Option[String], day: String, isNew: String): (String, String) =
    firstDay match {
      case None => if (isNew == "1") ("1", day) else ("0", "")
      case Some(first) => (if (isNew == "1" && first == day) "1" else "0", first)
    }

  /** Upsert telescoping over one key's versions (DwsTradeSkuOrderWindow
    * .processBeanStream :158-201): each accepted version emits
    * (amount − last accepted amount), so the deltas sum to the newest
    * version's amount without retract streams. The newest version is
    * the greatest (ts, amount) — a tie on ts is broken by amount, in a
    * batch and across batches alike, so the sum never depends on
    * arrival order. A version below `last` (the state: the newest
    * (ts, amount) accepted so far) is stale and ignored. Returns the
    * accepted versions with their deltas and the next state.
    */
  def upsertFold[V](last: Option[(Long, Long)], versions: Seq[V])(
      ts: V => Long, amount: V => Long): (Seq[(V, Long)], Option[(Long, Long)]) = {
    var st = last
    val out = versions.sortBy(v => (ts(v), amount(v))).flatMap { v =>
      val cur = (ts(v), amount(v))
      if (st.forall(s => Ordering[(Long, Long)].gteq(cur, s))) {
        val delta = cur._2 - st.fold(0L)(_._2)
        st = Some(cur)
        Some(v -> delta)
      } else None
    }
    (out, st)
  }
}
