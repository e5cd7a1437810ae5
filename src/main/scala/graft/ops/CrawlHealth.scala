package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl HEALTH operators — the host-level pathologies a production
  * crawl detects between rounds: mirror hosts (don't fetch the same
  * site twice under two names), failing hosts (stop hammering a dead
  * server), and soft-404s (a 200 that is really an error page).
  *
  * - [[hostMirrors]]: Bharat & Broder, "Mirror, mirror on the Web"
  *   (WWW 1999) — two hosts serving largely the same CONTENT SET are
  *   mirrors; fetch one, map the other. Exact set Jaccard over
  *   content hashes with the paper's size-ratio prune as the
  *   documented candidate filter.
  * - [[circuitBreakers]]: the failure-run breaker every fetch fleet
  *   runs (consecutive 5xx/timeouts trip the host open; the
  *   Heritrix/Nutch retry discipline): per-host longest and trailing
  *   failure runs via one gaps-and-islands pass.
  * - [[soft404]]: Bar-Yossef, Broder, Kumar, Tomkins, "Sic transit
  *   gloria telae" (WWW 2004) §3: fetch a RANDOM (surely-nonexistent)
  *   URL per host; its body is the host's error fingerprint, and any
  *   200 page serving that same body is a soft 404.
  *
  * Reference analog: none — the reference profiles tables; host
  * health is crawl infrastructure. Gates: q421–q424.
  */
object CrawlHealth {

  /** Mirror-host pairs by EXACT content-set Jaccard. `crawl` is
    * (host, contentHash) observations; the distinct set per host is
    * the host's content signature. Output: every unordered host pair
    * (host_a < host_b) with Jaccard ≥ `minJaccard`, with sizes,
    * shared count, Jaccard, and both containments (a partial mirror
    * shows up as high containment of the smaller host — the paper's
    * directional notion).
    *
    * Prune discipline: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs
    * whose size ratio is under `minJaccard` CANNOT pass and are
    * dropped before the divide (the Bharat–Broder size filter). At
    * host counts where even the pair table is too big, run
    * [[KmvSketch.overlap]] first (the q376 sketch path) and feed
    * only its candidates here — this operator is the exact verify
    * stage.
    *
    * Scale (100 TB): one distinct on (host, hash), one self equi-join
    * ON HASH (corpus-sized but hash-partitioned — never a cross
    * join; fan-out per hash is bounded by the number of hosts
    * serving that content), one (host_a, host_b) aggregate bounded
    * by host². */
  def hostMirrors(crawl: DataFrame, hostCol: String, hashCol: String,
      minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1]: $minJaccard")
    // r16 (output-identical restructure, guide §2.3/§2.4): the distinct
    // signature table feeds THREE consumers (sizes + both join sides) —
    // checkpoint it once instead of recomputing the corpus distinct per
    // consumer; and the Bharat–Broder size-ratio prune moves INTO the
    // pair join, so pairs that cannot pass are dropped before the
    // (host_a, host_b) aggregate shuffles them (previously the prune ran
    // post-aggregate). Kept pairs and their n_shared are unchanged: the
    // prune predicate is exactly the old post-aggregate filter, and
    // dropping a pair never affects another pair's count. The inherent
    // hot-hash fan-out (hosts²/2 probe rows for a universally-served
    // hash) remains — the capped-ledger redesign is a gate-schema
    // change, left for a build round (see OPTIMIZATION_r16.md).
    val rows = crawl
      .select(col(hostCol).cast("string").as("host"),
        col(hashCol).cast("string").as("h"))
      .where(col("host").isNotNull && col("h").isNotNull)
      .distinct()
      .localCheckpoint(false)
    val sizes = rows.groupBy("host").agg(count(lit(1)).as("n"))
    val a = rows.join(sizes, Seq("host"))
      .select(col("host").as("host_a"), col("h"), col("n").as("n_a"))
    val b = rows.join(sizes, Seq("host"))
      .select(col("host").as("host_b"), col("h"), col("n").as("n_b"))
    val shared = a.join(b, Seq("h"))
      .where(col("host_a") < col("host_b") &&
        least(col("n_a"), col("n_b")).cast("double") /
          greatest(col("n_a"), col("n_b")) >= minJaccard)
      .groupBy("host_a", "host_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 8))
      .where(col("jaccard") >= minJaccard)
      .select(col("host_a"), col("host_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard"),
        round(col("n_shared").cast("double") / col("n_a"), 8)
          .as("containment_a"),
        round(col("n_shared").cast("double") / col("n_b"), 8)
          .as("containment_b"))
  }

  /** Per-host failure-run breaker state from a fetch-outcome log.
    * `okCol` is boolean (false = retryable failure: 5xx, timeout,
    * connection reset); `orderCol` is the per-host event order (a
    * fetch sequence number — REQUIRED unique within a host, because
    * "consecutive" is meaningless under ties). Output per host:
    * n_events, n_fail, max_fail_run (longest consecutive-failure
    * run), open_run (the trailing run still growing at log end — 0
    * if the last fetch succeeded), and tripped = max_fail_run >=
    * tripAt. One shuffle on host; the run detection is the standard
    * gaps-and-islands double row_number, partition-local. Rows with a
    * null host, order or outcome are dropped ([[breakerEvents]]). */
  def circuitBreakers(events: DataFrame, hostCol: String,
      orderCol: String, okCol: String, tripAt: Int): DataFrame = {
    require(tripAt >= 1, s"tripAt must be >= 1: $tripAt")
    val w = Window.partitionBy("host").orderBy("ord")
    val wf = Window.partitionBy("host", "ok").orderBy("ord")
    val runs = breakerEvents(events, hostCol, orderCol, okCol)
      .withColumn("__grp",
        row_number().over(w) - row_number().over(wf))
    val failRuns = runs.where(!col("ok"))
      .groupBy("host", "__grp")
      .agg(count(lit(1)).as("__len"), max(col("ord")).as("__end"))
    val lastOrd = runs.groupBy("host")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_fail"),
        max(col("ord")).as("__last"))
    val maxRuns = failRuns.groupBy("host")
      .agg(max(col("__len")).as("max_fail_run"))
    val openRuns = failRuns.select(col("host").as("__oh"),
      col("__end"), col("__len").as("__open"))
    lastOrd
      .join(maxRuns, Seq("host"), "left")
      .join(openRuns, col("host") === col("__oh") &&
        col("__last") === col("__end"), "left")
      .select(col("host"), col("n_events"), col("n_fail"),
        coalesce(col("max_fail_run"), lit(0L)).as("max_fail_run"),
        coalesce(col("__open"), lit(0L)).as("open_run"))
      .withColumn("tripped", col("max_fail_run") >= tripAt)
  }

  /** The (host, ord, ok) input both breakers fold — this operator and
    * its streaming twin [[graft.streaming.StreamingCircuitBreaker]]: a
    * row with a null host, order or outcome carries no event (an
    * unknown outcome is neither a failure nor a success, and must not
    * split the failure run around it), so it is dropped. */
  private[graft] def breakerEvents(events: DataFrame, hostCol: String,
      orderCol: String, okCol: String): DataFrame =
    events
      .select(col(hostCol).cast("string").as("host"),
        col(orderCol).cast("long").as("ord"),
        col(okCol).cast("boolean").as("ok"))
      .where(col("host").isNotNull && col("ord").isNotNull &&
        col("ok").isNotNull)

  /** Soft-404 flags by the random-probe method: `probes` carries one
    * row per host — the content hash served for a URL that cannot
    * exist (the WWW 2004 §3 protocol; generating and fetching the
    * probe URL is the crawler's job, this op is the reconciliation).
    * Every 200-page whose body hash equals its host's error
    * fingerprint is a soft 404. Hosts with no probe row pass
    * through unflagged (null fingerprint ≠ unknown-is-error).
    * Map-only after one broadcast join — the probe table is
    * host-dimensioned. */
  def soft404(pages: DataFrame, hostCol: String, urlCol: String,
      hashCol: String, probes: DataFrame, pHostCol: String,
      fingerprintCol: String): DataFrame = {
    val p = probes
      .select(col(pHostCol).cast("string").as("__phost"),
        col(fingerprintCol).cast("string").as("__fp"))
      .where(col("__phost").isNotNull && col("__fp").isNotNull)
    pages
      .select(col(hostCol).cast("string").as("host"),
        col(urlCol).cast("string").as("url"),
        col(hashCol).cast("string").as("hash"))
      .join(broadcast(p), col("host") === col("__phost"), "left")
      .withColumn("soft404",
        col("__fp").isNotNull && col("hash") === col("__fp"))
      .select(col("host"), col("url"), col("hash"), col("soft404"))
  }
}
