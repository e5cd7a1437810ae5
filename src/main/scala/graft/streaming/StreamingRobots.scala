package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Robots

/** Crawl-permission verdicts against a SLOWLY-CHANGING robots
  * dimension — the real crawler shape: robots.txt bodies change while
  * a crawl runs (RFC 9309 §2.4 allows caching up to 24h), so each
  * fetch must be judged by the body that was IN FORCE at fetch time,
  * not the latest one. q380 gates it with probes streamed through a
  * MemoryStream against an independently-computed twin.
  *
  * Shape: a stateless stream–static join (q209's protocol — the
  * static versioned table broadcasts per micro-batch; no streaming
  * state, Append mode needs no watermark) on host plus the validity
  * interval `valid_from <= fetch_ts < valid_to` as residual, then the
  * same per-partition parse-once verdicts as [[Robots.crawlFilter]] —
  * keyed by (host, version window) so two versions of one host never
  * share an entry.
  *
  * Preconditions (documented, fixture-asserted): one host's version
  * windows must not overlap (each probe matches at most one version —
  * the left join then never duplicates a probe row). A probe whose
  * fetch time no version covers — the host was never fetched, or the
  * first robots fetch happened later — is ALLOWED, the same
  * no-robots default as RFC §2.3.1.2. A probe with a NULL fetch
  * timestamp takes the same branch (the SQL interval predicate is
  * null → the left join matches no version) and keeps its null
  * timestamp in the output — hostile probe rows never throw, the
  * same contract as the null-agent/path handling in
  * [[Robots.isAllowed]].
  *
  * Works identically on a batch `probes` frame (the join is
  * stateless), which is what the boundary-semantics unit test drives.
  */
object StreamingRobots {

  /** (host, agent, path, fetch_ts_us, allowed) per probe row. */
  def allowedAtFetchTime(probes: DataFrame, hostCol: String,
      agentCol: String, pathCol: String, tsCol: String,
      robots: DataFrame, rHostCol: String, fromCol: String,
      toCol: String, txtCol: String): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val p = probes.select(col(hostCol).cast("string").as("host"),
      col(agentCol).cast("string").as("agent"),
      col(pathCol).cast("string").as("path"),
      col(tsCol).cast("long").as("fetch_ts_us"))
    val r = robots.select(col(rHostCol).cast("string").as("__rhost"),
      col(fromCol).cast("long").as("__from"),
      col(toCol).cast("long").as("__to"),
      col(txtCol).cast("string").as("__txt"))
    p.join(broadcast(r),
        p("host") === r("__rhost") &&
          col("fetch_ts_us") >= col("__from") &&
          col("fetch_ts_us") < col("__to"),
        "left")
      .select(col("host"), col("agent"), col("path"),
        col("fetch_ts_us"), col("__from"), col("__txt"))
      // fetch_ts_us is Option[Long]: a null probe timestamp must ride
      // through (matching no version window), not throw on a
      // primitive-Long encode
      .as[(String, String, String, Option[Long], Option[Long], String)]
      .mapPartitions { it =>
        // no body in force (null) → allowed, RFC §2.3.1.2
        val verdict = Robots.verdicts[(String, Long)]()
        it.map { case (host, agent, path, ts, from, txt) =>
          (host, agent, path, ts, verdict(
            (host, from.getOrElse(Long.MinValue)), txt, agent, path))
        }
      }
      .toDF("host", "agent", "path", "fetch_ts_us", "allowed")
  }
}
