package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.CrawlHealth

/** Streaming per-host failure-run circuit breaker — the ONLINE form
  * of [[graft.ops.CrawlHealth.circuitBreakers]]: fetch outcomes
  * arrive as a stream and each host's breaker state (trailing
  * failure run, longest run ever, tripped flag) updates per
  * micro-batch, so the fetch fleet can stop scheduling a host the
  * moment it trips instead of discovering the outage in the next
  * batch reconciliation.
  *
  * State is FOUR Longs per host (event/fail counts, max and open
  * runs) — bounded by the host dimension, the
  * [[StreamingBudget]] argument; no TTL (a breaker that forgets a
  * tripped host un-trips it silently — expiry is a policy decision
  * for the caller's state table, not this operator). Within a batch
  * the per-host slice is folded in ascending `orderCol` (the q402
  * ascending-id discipline: flatMapGroups iterator order is not
  * contractual); across batches the micro-batch sequence is the
  * arrival order, so a two-batch drive reproduces the batch
  * gaps-and-islands answer exactly — which is what the q423 gate
  * replays. One emitted row per host per batch, stamped with the
  * host's update sequence (`seq`); the LAST row per host is the
  * current breaker table. */
object StreamingCircuitBreaker {

  final case class BreakerRow(host: String, seq: Long, nEvents: Long,
      nFail: Long, maxFailRun: Long, openRun: Long, tripped: Boolean)

  final case class St(seq: Long, nEvents: Long, nFail: Long,
      maxRun: Long, openRun: Long)

  def breakerStates(events: DataFrame, hostCol: String,
      orderCol: String, okCol: String, tripAt: Int):
      Dataset[BreakerRow] = {
    require(tripAt >= 1, s"tripAt must be >= 1: $tripAt")
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = CrawlHealth.breakerEvents(events, hostCol, orderCol, okCol)
      .as[(String, Long, Boolean)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[St, BreakerRow](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      case (host, rows, state: GroupState[St]) =>
        val st = state.getOption.getOrElse(St(0L, 0L, 0L, 0L, 0L))
        var (n, f, mx, open) = (st.nEvents, st.nFail, st.maxRun,
          st.openRun)
        rows.toSeq.sortBy(_._2).foreach { case (_, _, ok) =>
          n += 1
          if (ok) open = 0L
          else { f += 1; open += 1; if (open > mx) mx = open }
        }
        val next = St(st.seq + 1, n, f, mx, open)
        state.update(next)
        Iterator.single(BreakerRow(host, next.seq, n, f, mx, open,
          mx >= tripAt))
    }
  }
}
