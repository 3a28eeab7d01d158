package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** Keyed-state steps shared by this package's `flatMapGroupsWithState`
  * functions, each defined once. */
private[streaming] object KeyedState {

  /** Arm `state`'s event-time timeout at `deadlineMs`, clamped to just
    * past the current watermark. Spark rejects a timeout behind the
    * watermark, which kills the query; with the clamp a deadline that
    * has already passed (a straggler-only batch, a window that elapsed
    * before its anchor arrived) fires on the next watermark advance
    * instead: late, but never lost. Every keyed state with an expiry
    * arms it here. */
  def expireAt(state: GroupState[_], deadlineMs: Long): Unit =
    state.setTimeoutTimestamp(math.max(deadlineMs, state.getCurrentWatermarkMs() + 1L))

  /** One batch of arrivals into a capped bucket of `(id, payload)`
    * residents — the admission rule of the near-dup bucket states.
    * Arrivals are taken in id order; an id already resident is skipped
    * (re-delivery neither re-pairs nor re-enters); a new id is passed to
    * `pair` with every resident, earlier same-batch arrivals included
    * (resident first), and enters while the bucket is below `cap`. An
    * arrival over the cap still pairs: the state stays bounded while its
    * candidates still surface, the batch df cap's overflow posture.
    * Returns the residents after the batch and the number of arrivals
    * refused for the cap. */
  def admit[P](residents: List[(Long, P)], arrivals: Seq[(Long, P)], cap: Int)(
      pair: ((Long, P), (Long, P)) => Unit): (List[(Long, P)], Long) = {
    var entries = residents
    var refused = 0L
    arrivals.sortBy(_._1).foreach { a =>
      if (!entries.exists(_._1 == a._1)) {
        entries.foreach(pair(_, a))
        if (entries.size < cap) entries = entries :+ a else refused += 1L
      }
    }
    (entries, refused)
  }
}
