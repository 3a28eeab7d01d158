package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Reusable strict-contiguity CEP sequence matcher — the reference's
  * Pattern-API shape (`Pattern.begin(cond).next(cond).within(t)`,
  * RT/app/dwm/UserJumpDetailApp.java:101-128) as CONFIG over one keyed
  * state machine, so the next pattern is a [[Pattern]] value, not a new
  * operator. Spark has no CEP library; this encodes the surface the
  * reference uses — both contiguity modes (`next` via `strict = true`,
  * `followedBy` via `strict = false`), a sequence-wide `within` window,
  * and a timeout output in the ROLE of Flink's timed-out-partial side
  * output (see the anchor-only caveat below) — in
  * `flatMapGroupsWithState` with event-time timeouts.
  *
  * Semantics, per key, over event-time-sorted batches:
  *  - an event matching `steps.head` anchors a partial match;
  *  - each later event (ts >= last matched ts) must match the NEXT step:
  *    a wrong event kills the partial (strict contiguity), a match
  *    advances it, and completing all steps emits the final event when
  *    `emitMatched` (then the completing event may re-anchor);
  *  - a successor arriving past `withinMs` of the anchor — or no
  *    successor before the event-time timeout fires — emits the ANCHOR
  *    when `emitTimedOut`: the ANCHOR ONLY, not the accumulated partial
  *    (Flink's side output carries the partial's full event map; every
  *    reference pattern — the 2-step bounce — needs exactly the anchor,
  *    so that is what this emits);
  *  - a straggler from before the partial match is dropped, never
  *    buffered: with one partial per key we cannot know whether its
  *    window was already resolved by events processed (and forgotten) in
  *    earlier batches — mirroring the reference CEP's late-data drop at
  *    the monotonic watermark (UserJumpDetailApp.java:80-88).
  *
  * == After-match / overlap semantics (vs Flink's skip strategies) ==
  * The state is a SINGLE partial match per key ("single-run NFA").
  * Consequences, both pinned by SequenceSpec:
  *  - between matches, the completing event may immediately re-anchor
  *    the next match — Flink's `AfterMatchSkipStrategy.skipToLast`
  *    placement (the closest strategy to this encoding; `noSkip` and
  *    `skipToNext` would resume EARLIER, inside the consumed run);
  *  - during a match, an event a `followedBy` pattern skips never starts
  *    a concurrent run, so overlapping matches — Flink's default
  *    `noSkip`, which tracks every concurrent partial and emits one
  *    match per anchor — are NOT expressible in THIS function. No
  *    reference pipeline needs overlap (the bounce family wants
  *    exactly-one-resolution per visit); when an operator does, use
  *    [[detectAll]]/[[stateFnMulti]] — the `Seq[Seq[E]]`-state
  *    generalization (one prefix per live run) with this encoding as
  *    the one-run special case.
  *
  * At scale this is the same shape as every stateful op here: state is
  * one fixed-size partial match per key, evicted by the event-time
  * timeout, living in the RocksDB state store (GraftSession).
  */
object Sequence {

  /** A CEP sequence pattern. `steps.head` admits an anchor; each further
    * step is a next-step condition; the whole sequence must complete
    * within `withinMs` of the anchor's event time.
    *
    * `strict` selects the contiguity mode, the two the reference Pattern
    * API distinguishes: `true` = Flink's `next` (a successor that fails
    * the next step KILLS the partial match), `false` = `followedBy`
    * (non-matching successors are skipped and the partial survives until
    * it completes or times out). */
  final case class Pattern[E](
      steps: IndexedSeq[E => Boolean],
      withinMs: Long,
      eventTs: E => Long,
      emitTimedOut: Boolean = true,
      emitMatched: Boolean = false,
      strict: Boolean = true) {
    require(steps.size >= 2, "a sequence pattern needs at least two steps")
  }

  /** A partial match: its anchor, the event time of its last matched
    * event and how many steps it has matched. A fixed struct, not the
    * matched events themselves: the state function reads nothing else,
    * and a collection-typed state decodes through a `MapObjects` whose
    * fresh lambda id makes Spark generate (and compile) a new projection
    * in every micro-batch. */
  final case class Partial[E](anchor: E, lastTs: Long, size: Int)

  /** The pure keyed state function (unit-testable via TestGroupState).
    * State = the current partial match. */
  def stateFn[E](p: Pattern[E])(
      key: String, rows: Iterator[E], state: GroupState[Partial[E]]): Iterator[E] = {
    if (rows.isEmpty && state.hasTimedOut) {
      val anchor = state.get.anchor
      state.remove()
      return if (p.emitTimedOut) Iterator.single(anchor) else Iterator.empty
    }
    val sorted = rows.toIndexedSeq.sortBy(p.eventTs)
    var partial: Option[Partial[E]] = state.getOption
    val out = Seq.newBuilder[E]
    sorted.foreach { e =>
      val ts = p.eventTs(e)
      partial match {
        // only a TRUE successor (ts >= last matched ts) advances or expires
        // the partial; earlier stragglers fall through to the anchor check
        // below, which rejects them while a partial is pending
        case Some(m) if ts >= m.lastTs =>
          if (ts - p.eventTs(m.anchor) > p.withinMs) {
            if (p.emitTimedOut) out += m.anchor // window expired before this successor
            partial = None
          } else if (p.steps(m.size)(e)) {
            if (m.size + 1 == p.steps.size) { // full match
              if (p.emitMatched) out += e
              partial = None
            } else partial = Some(m.copy(lastTs = ts, size = m.size + 1))
          } else if (p.strict) partial = None // next: a wrong event kills the partial
          // else followedBy: the non-matching successor is skipped, the
          // partial survives (and the skipped event does NOT re-anchor —
          // single-partial state keeps one match in flight per key)
        case _ =>
      }
      if (partial.isEmpty && p.steps.head(e)) partial = Some(Partial(e, ts, 1)) // (re-)anchor
    }
    partial match {
      case Some(m) =>
        state.update(m)
        // a straggler anchor whose window already elapsed is clamped past the
        // watermark: the partial had no completion inside its window, so the
        // timeout emission is exactly right, just late
        KeyedState.expireAt(state, p.eventTs(m.anchor) + p.withinMs)
      case None => if (state.exists) state.remove()
    }
    out.result().iterator
  }

  /** Keyed-stream driver: requires a watermarked event-time column on
    * `events` (e.g. [[BounceDetect.withEventTime]]) when streaming. */
  def detect[E: Encoder](events: Dataset[E], p: Pattern[E])(key: E => String)(
      implicit partialEnc: Encoder[Partial[E]]): Dataset[E] =
    events.groupByKey(key)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFn(p))

  /** Multi-run state function — Flink's default
    * `AfterMatchSkipStrategy.noSkip`, the overlap semantics [[stateFn]]
    * deliberately does not encode: EVERY anchor-matching event starts
    * its own run (even while other runs are in flight, even when it also
    * just advanced or completed one), runs advance independently, and
    * one completion (or timeout anchor) is emitted PER RUN — so an event
    * completing two overlapping runs is emitted twice, once per match,
    * exactly as Flink's `select` fires once per match. Contiguity
    * (`strict`), the `within` window, straggler handling and the
    * anchor-only timeout emission all match [[stateFn]] per run.
    *
    * State = one bounded prefix per LIVE run, anchor-ordered. The run
    * count per key is bounded by the anchors inside the `within` horizon
    * (expired runs evict on the earliest-deadline event-time timeout) —
    * the same state-growth contract as Flink's noSkip, where the window
    * is the bound. Use [[stateFn]] (single-run) when overlap is not
    * required: it holds one fixed-size partial instead of many prefixes. */
  def stateFnMulti[E](p: Pattern[E])(
      key: String, rows: Iterator[E], state: GroupState[Seq[Seq[E]]]): Iterator[E] = {
    def deadline(run: Seq[E]): Long = p.eventTs(run.head) + p.withinMs
    if (rows.isEmpty && state.hasTimedOut) {
      // the registered timeout was the EARLIEST live deadline: expire every
      // run the watermark has passed, keep the rest and re-arm for their min
      val wm = state.getCurrentWatermarkMs()
      val (dead, live) = state.get.partition(r => deadline(r) <= wm)
      if (live.isEmpty) state.remove()
      else {
        state.update(live)
        KeyedState.expireAt(state, live.map(deadline).min)
      }
      return (if (p.emitTimedOut) dead.map(_.head) else Seq.empty).iterator
    }
    val sorted = rows.toIndexedSeq.sortBy(p.eventTs)
    var runs: Seq[Seq[E]] = state.getOption.getOrElse(Seq.empty)
    val out = Seq.newBuilder[E]
    sorted.foreach { e =>
      val ts = p.eventTs(e)
      // stateFn's straggler contract, per run set: an event older than the
      // newest matched event may have had its window already resolved by
      // events processed (and forgotten) in earlier batches, so it must
      // not open a run. In-batch this never fires (events are sorted);
      // it guards exactly the cross-batch late arrival.
      val straggler = runs.exists(r => ts < p.eventTs(r.last))
      val next = Seq.newBuilder[Seq[E]]
      runs.foreach { run =>
        if (ts < p.eventTs(run.last)) next += run // straggler FOR THIS RUN: no effect
        else if (ts - p.eventTs(run.head) > p.withinMs) {
          if (p.emitTimedOut) out += run.head // window expired before this successor
        } else if (p.steps(run.size)(e)) {
          val adv = run :+ e
          if (adv.size == p.steps.size) { if (p.emitMatched) out += e } // run retires
          else next += adv
        } else if (!p.strict) next += run // followedBy: skipped, the run survives
        // strict: a wrong successor kills this run (others are unaffected)
      }
      if (!straggler && p.steps.head(e)) next += Seq(e) // noSkip: every non-straggler anchor opens a run
      runs = next.result()
    }
    if (runs.nonEmpty) {
      state.update(runs)
      KeyedState.expireAt(state, runs.map(deadline).min)
    } else if (state.exists) state.remove()
    out.result().iterator
  }

  /** [[detect]]'s overlapping-matches twin (`noSkip`): one output per
    * concurrent run. Same watermark requirement. */
  def detectAll[E: Encoder](events: Dataset[E], p: Pattern[E])(key: E => String)(
      implicit runsEnc: Encoder[Seq[Seq[E]]]): Dataset[E] =
    events.groupByKey(key)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFnMulti(p))
}
