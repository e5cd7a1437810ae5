package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.TextAnalysis

/** Streaming deduplication — keep the first occurrence of each document
  * fingerprint across an unbounded stream, with per-key occurrence
  * counts, via `flatMapGroupsWithState` (custom state the built-in
  * streaming `dropDuplicates` can't express: it dedups but reports
  * nothing about how often each key recurred).
  *
  * State per key is one Long (occurrence count) with a processing-time
  * TTL, so state size is bounded by distinct-keys-within-TTL — the
  * standard shape for a 100 TB/day ingest dedup stage.
  */
object StreamingDedup {

  final case class DedupRecord(
      fingerprint: Long, payload: String, occurrence: Long)

  /** Event-time variant: state TTL is driven by the stream's own clock
    * (watermark on `tsCol`), so expiry is deterministic and replayable —
    * the variant a backfill-capable 100 TB/day pipeline wants, and the
    * one whose expiry path is testable without a wall clock
    * (ProcessingTimeTimeout cannot fire under processAllAvailable).
    * After a key's state expires, a re-arrival of the same fingerprint
    * is emitted again as first-seen — the standard TTL-dedup contract. */
  def dedupByFingerprintEventTime(
      df: DataFrame, textCol: String, tsCol: String, ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[DedupRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"),
        col(textCol).as("payload"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermarkDelay) // after the cast: a cast would
      // strip the event-time tag if the watermark were declared first
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[Long, DedupRecord](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (fp, rows, state: GroupState[Long]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val seenBefore = state.getOption.getOrElse(0L)
          val batch = rows.toSeq
          state.update(seenBefore + batch.size)
          // timeout must sit at/after the current watermark (late rows
          // would otherwise schedule an already-expired timeout)
          val maxTs = batch.map(_._3.getTime).max
          state.setTimeoutTimestamp(
            math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
          if (seenBefore == 0L)
            Iterator(DedupRecord(fp, batch.head._2, 1L))
          else Iterator.empty
        }
    }
  }

  /** Fingerprint-dedup a stream of (textCol) rows: emits only
    * first-seen documents, tagged with the occurrence counter (1 = new;
    * suppressed repeats bump the state silently). */
  def dedupByFingerprint(
      df: DataFrame, textCol: String,
      stateTtl: Option[String] = None): Dataset[DedupRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"),
        col(textCol).as("payload"))
      .as[(Long, String)]
      .groupByKey(_._1)

    val timeout = stateTtl
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    keyed.flatMapGroupsWithState[Long, DedupRecord](
      OutputMode.Append(), timeout) {
      case (fp, rows, state: GroupState[Long]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val seenBefore = state.getOption.getOrElse(0L)
          val batch = rows.toSeq
          val total = seenBefore + batch.size
          state.update(total)
          stateTtl.foreach(state.setTimeoutDuration)
          // emit only the first-ever occurrence of this fingerprint
          if (seenBefore == 0L)
            Iterator(DedupRecord(fp, batch.head._2, 1L))
          else Iterator.empty
        }
    }
  }
}
