package graft.streaming

import LogSchema.LogEvent
import LogPipeline.dayOf
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** P4 — daily unique-visit dedup with TTL'd keyed state.
  *
  * Reference: RT/app/dwm/UniqueVisitApp.java:57-95 — key by mid, drop
  * mid-session events (`last_page_id` non-empty), emit only the first visit
  * per day; 1-day state TTL (lines 67-68).
  *
  * TTL is encoded as an *event-time* timeout (24 h past the key's last
  * event, fired by watermark advance) rather than the reference's
  * processing-time TTL: deterministic, replay-safe, and it avoids the
  * continuous empty micro-batches a processing-time timer forces on the
  * micro-batch engine (documented deviation, same family as the is_new
  * event-time fix — SURVEY.md §7.4.5).
  */
object UniqueVisits {

  val TtlMs: Long = 24L * 3600 * 1000 // StateTtlConfig(Time.days(1)) parity

  def dedupState(
      mid: String,
      rows: Iterator[LogEvent],
      state: GroupState[String]): Iterator[LogEvent] = {
    if (rows.isEmpty && state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val entries = rows.toIndexedSeq
      .filter(_.lastPageId.isEmpty) // session entries only (line 76)
      .sortBy(_.ts)
    var lastDt = state.getOption.getOrElse("")
    var maxTs = 0L
    // STRICTLY-GREATER day comparison (ISO strings order lexicographically):
    // a cross-batch straggler from an already-emitted earlier day must not
    // re-emit that day NOR regress the state — `!=` did both, inflating the
    // day's UV and then double-emitting the next current-day entry (review
    // find). The trade: a genuinely-first earlier-day entry arriving after
    // a later day was emitted is suppressed — an undercount of at most one
    // straggler visit vs the old systematic double-count.
    val out = entries.filter { e =>
      if (e.ts > maxTs) maxTs = e.ts
      val dt = dayOf(e.ts)
      if (dt > lastDt) { lastDt = dt; true } else false
    }
    if (lastDt.nonEmpty && maxTs > 0L) {
      state.update(lastDt)
      KeyedState.expireAt(state, maxTs + TtlMs)
    }
    out.iterator
  }

  /** `events` must carry a watermarked event-time column (attach with
    * [[BounceDetect.withEventTime]]) when streaming. */
  def apply(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.mid)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(dedupState)
  }
}
