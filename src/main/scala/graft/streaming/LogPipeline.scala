package graft.streaming

import LogSchema.LogEvent
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** P2 — base log task: 3-way split + display explode ([[run]]) and the
  * new/old-visitor fix ([[fixVisitors]], which `run` does not apply).
  *
  * Reference: RT/app/dwd/BaseLogTask.java:35-168. The side-output 3-way
  * split (lines 109-148) becomes three filtered projections of one parsed
  * frame; the keyed `ValueState` correction (lines 65-99) becomes
  * `flatMapGroupsWithState`.
  *
  * Deviation (documented, SURVEY.md §7.4.2): the reference stamps first-visit
  * dates with wall-clock `new Date()` (BaseLogTask.java:87); we use event
  * time, which is deterministic and replay-safe.
  */
object LogPipeline {

  private val dayFmt = DateTimeFormatter.ofPattern("yyyyMMdd").withZone(ZoneOffset.UTC)
  def dayOf(tsMillis: Long): String = dayFmt.format(Instant.ofEpochMilli(tsMillis))

  /** Keyed state function: state = first-visit day (yyyyMMdd, event time).
    * An event claiming is_new=1 on a later day than the stored first visit is
    * rewritten to is_new=0 (reference lines 81-95). */
  def fixVisitorState(
      mid: String,
      rows: Iterator[LogEvent],
      state: GroupState[String]): Iterator[LogEvent] = {
    val sorted = rows.toIndexedSeq.sortBy(_.ts)
    var firstDt = state.getOption.getOrElse("")
    val out = sorted.map { e =>
      val dt = dayOf(e.ts)
      if (e.isNew == "1") {
        if (firstDt.isEmpty) { firstDt = dt; e }
        else if (firstDt == dt) e
        else e.copy(isNew = "0")
      } else e
    }
    if (firstDt.nonEmpty) state.update(firstDt)
    out.iterator
  }

  /** Apply the visitor fix to a typed event stream (or batch). */
  def fixVisitors(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.mid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fixVisitorState)
  }

  /** 3-way split of the parsed envelope: launch records. */
  def startStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("start").isNotNull)
      .select(col("common.mid").as("mid"), col("start.entry").as("entry"), col("ts"))

  /** 3-way split: page-view records (everything that is not a launch). */
  def pageStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("start").isNull)
      .select(col("common.mid").as("mid"),
        col("page.page_id").as("page_id"),
        col("page.last_page_id").as("last_page_id"), col("ts"))

  /** 3-way split: exposure records — explode `displays`, inject the parent
    * page_id (reference lines 125-136). */
  def displayStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("start").isNull && size(col("displays")) > 0)
      .select(col("common.mid").as("mid"), col("page.page_id").as("page_id"),
        explode(col("displays")).as("d"), col("ts"))
      .select(col("mid"), col("page_id"), col("d.item").as("item"),
        col("d.pos_id").as("pos_id"), col("ts"))

  /** The three splits, each a [[LayerSink]] output of [[run]]. */
  private val splits = Seq(LayerOutput("dwd_start_log", startStream),
    LayerOutput("dwd_page_log", pageStream), LayerOutput("dwd_display_log", displayStream))

  /** Parse a raw envelope stream and write its three splits, one persisted
    * pass per micro-batch, each through [[LayerSink]] under the batch id: a
    * replayed batch lands in every split once, and readers see whole batches
    * only. Throws [[CheckpointResetException]] before start when
    * `outDir/_chk` was deleted but the splits were kept. */
  def run(spark: SparkSession, raw: DataFrame, outDir: String) =
    MicroBatch.start(raw, s"$outDir/_chk", stores = MicroBatch.stores(outDir, splits)) {
      (batch, batchId) => MicroBatch.fanOut(LogSchema.parse(batch), outDir, batchId, splits)
    }
}
