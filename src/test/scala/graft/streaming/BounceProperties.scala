package graft.streaming

import graft.streaming.LogSchema.LogEvent
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** P5 CEP partition law (reference RT/app/dwm/UserJumpDetailApp.java:101-156)
  * as ScalaCheck properties over the pure detection core —
  * [[Sequence.stateFn]] instantiated with [[BounceDetect.pattern]] —
  * driven through Spark's [[TestGroupState]]. Since the round-8 CEP
  * generalization these laws pin the REUSABLE state machine, not a
  * bounce-specific copy.
  *
  * For a single-batch delivery of one device's events with distinct
  * timestamps, every ENTRY event (empty last_page_id) lands in exactly one
  * of three disjoint buckets:
  *   - emitted bounce: a later event exists but arrives > 10 s after;
  *   - resolved (non-bounce): some later event arrives within 10 s;
  *   - pending: the entry is the last event seen — parked in state with an
  *     event-time timeout at ts+10 s (the timeout path then emits it, which
  *     the golden-vector suite covers).
  * And the answer is ORDER-INVARIANT: any arrival permutation of the batch
  * produces the same emitted set and the same parked state, because the
  * operator sorts by event time before running the pattern.
  */
object BounceProperties extends Properties("BounceDetect") {

  private def entry(ts: Long) = LogEvent("m", "0", "home", "", hasStart = false, ts)
  private def page(ts: Long) = LogEvent("m", "0", "detail", "home", hasStart = false, ts)

  // up to 12 events with DISTINCT timestamps (ties would make the sorted
  // order — and therefore the answer — depend on arrival order, which is
  // exactly the ambiguity the distinct-ts law excludes)
  private val batchGen: Gen[List[LogEvent]] = for {
    n <- Gen.choose(1, 12)
    tss <- Gen.pick(n, 0L until 200L)
    flags <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield tss.toList.map(_ * 1700L).zip(flags).map {
    case (ts, true) => entry(ts)
    case (ts, false) => page(ts)
  }

  // a REAL permutation: Gen.pick(n, xs) with n == xs.size is reservoir
  // sampling whose replacement branch never fires, so it returns indices
  // in ORIGINAL order — the old form compared run(batch) with itself
  // (review find, verified against scalacheck bytecode). Seeded Fisher-
  // Yates actually reorders.
  private val shuffledGen: Gen[(List[LogEvent], List[LogEvent])] = for {
    batch <- batchGen
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield (batch, new scala.util.Random(seed).shuffle(batch))

  /** Run one batch through the real operator with fresh state; returns
    * (emitted bounces, parked entry, its timeout timestamp). */
  private def run(events: List[LogEvent]): (List[LogEvent], Option[LogEvent], Option[Long]) = {
    val state = TestGroupState.create[Sequence.Partial[LogEvent]](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(0L), false)
    val out = Sequence.stateFn(BounceDetect.pattern)("m", events.iterator, state).toList
    val parked = if (state.exists) Some(state.get.anchor) else None
    val timeout: Option[Long] =
      if (state.getTimeoutTimestampMs.isPresent)
        Some(state.getTimeoutTimestampMs.get.asInstanceOf[Long])
      else None
    (out, parked, timeout)
  }

  /** Independent model over the ts-sorted batch: each entry's fate is
    * decided by the next-in-time event alone. */
  private def model(batch: List[LogEvent]): (List[LogEvent], Option[LogEvent]) = {
    val sorted = batch.sortBy(_.ts)
    val bounced = sorted.zip(sorted.tail).collect {
      case (e, next) if e.lastPageId.isEmpty &&
        next.ts - e.ts > BounceDetect.BounceWindowMs => e
    }
    val parked = sorted.lastOption.filter(_.lastPageId.isEmpty)
    (bounced, parked)
  }

  property("bounce/resolved/pending partition the entry set (vs next-event model)") =
    forAll(batchGen) { batch =>
      val (out, parked, timeout) = run(batch)
      val (expectBounce, expectParked) = model(batch)
      val entries = batch.filter(_.lastPageId.isEmpty)
      val resolved = entries.filterNot(out.toSet).filterNot(parked.toSet)
      (out.sortBy(_.ts) == expectBounce.sortBy(_.ts)) :| s"emitted: $out vs $expectBounce" &&
        (parked == expectParked) :| s"parked: $parked vs $expectParked" &&
        (timeout == parked.map(_.ts + BounceDetect.BounceWindowMs)) :| "timeout = entry ts + 10 s" &&
        (out.size + parked.size + resolved.size == entries.size) :| "buckets partition the entries" &&
        out.forall(_.lastPageId.isEmpty) :| "only entries ever bounce"
    }

  property("answer is invariant under arrival order") =
    forAll(shuffledGen) { case (batch, shuffled) =>
      run(batch) == run(shuffled)
    }

  property("timeout firing emits the parked entry exactly once") =
    forAll(Gen.choose(0L, 100000L)) { ts =>
      val parked = entry(ts)
      val state = TestGroupState.create[Sequence.Partial[LogEvent]](
        Optional.of(Sequence.Partial(parked, parked.ts, 1)), GroupStateTimeout.EventTimeTimeout,
        0L, Optional.of(ts + BounceDetect.BounceWindowMs + 1), true)
      val out = Sequence.stateFn(BounceDetect.pattern)("m", Iterator.empty, state).toList
      out == List(parked) && state.isRemoved
    }
}
