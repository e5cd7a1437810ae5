package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl SCHEDULING primitives — with admission (RFC 9309,
  * [[Robots.crawlFilter]]) and budgeting ([[CrawlBudget]]) in place,
  * the remaining scheduler questions are WHAT FIRST (which pages
  * change fastest → [[changeRate]]) and WHEN (per-host politeness
  * spacing → [[politenessSlots]]). q405/q406 gate both.
  *
  * Scale shape: both are one shuffle on their partition key (url /
  * host) followed by window or aggregate work inside the partition —
  * no driver state, no collect, partition-local memory O(1) beyond
  * the window frame. */
object CrawlSchedule {

  /** Per-URL CHANGE-RATE estimation from a fetch history — the
    * recrawl-frequency estimator of Cho & Garcia-Molina ("Estimating
    * Frequency of Change", ACM TOIT 3(3), 2003): a page fetched
    * n+1 times (n intervals, average spacing Δ̄) showing X changed
    * intervals gets
    *
    *   λ̂ = −ln((n − X + 0.5) / (n + 0.5))
    *
    * — their bias-corrected improvement over the naive X/n, which
    * systematically underestimates when a page changes more than once
    * between fetches (the +0.5 terms are the continuity correction
    * keeping X = n finite). λ̂ here is DIMENSIONLESS — changes per
    * mean fetch interval Δ̄ = (t_last − t_first)/n; divide by Δ̄ for
    * an absolute rate (keeping the output unit-free sidesteps the
    * per-microsecond ~1e-11 magnitudes that fixed-decimal rounding
    * would destroy). Changes are DETECTED, not taken on faith:
    * consecutive fetches of a URL (ts order) compare content hashes,
    * X = #(hash ≠ previous hash). Output per URL: (url, n_fetches,
    * n_changes, lambda_hat rounded 8, due_us) where due_us =
    * floor(t_last + Δ̄/λ̂) on the ROUNDED λ̂ (the expected next
    * change — the recrawl deadline a scheduler orders by), null when
    * no change was ever observed (λ̂ = 0: nothing schedules it) or
    * only one fetch exists (no interval to estimate from).
    * One shuffle on url; the lag + aggregate are partition-local. */
  def changeRate(history: DataFrame, urlCol: String, tsCol: String,
      hashCol: String): DataFrame = {
    val w = Window.partitionBy("url").orderBy("ts")
    val lagged = history
      .select(col(urlCol).cast("string").as("url"),
        col(tsCol).cast("long").as("ts"),
        col(hashCol).cast("string").as("h"))
      .withColumn("__prev", lag(col("h"), 1).over(w))
      .withColumn("__chg",
        when(col("__prev").isNotNull &&
          col("__prev") =!= col("h"), 1L).otherwise(0L))
    val agg = lagged.groupBy("url").agg(
      count(lit(1)).as("n_fetches"),
      sum(col("__chg")).as("n_changes"),
      min(col("ts")).as("__t0"),
      max(col("ts")).as("__t1"))
    agg
      .withColumn("__n", col("n_fetches") - 1)
      .withColumn("__dbar",
        when(col("__n") > 0,
          (col("__t1") - col("__t0")).cast("double") / col("__n")))
      .withColumn("lambda_hat",
        round(when(col("__n") > 0,
          -log((col("__n") - col("n_changes") + 0.5) /
            (col("__n") + 0.5))), 8))
      .withColumn("due_us",
        when(col("lambda_hat") > 0 && col("__dbar") > 0,
          floor(col("__t1") + col("__dbar") / col("lambda_hat"))
            .cast("long")))
      .select(col("url"), col("n_fetches"), col("n_changes"),
        col("lambda_hat"), col("due_us"))
  }

  /** Politeness-constrained EARLIEST-FEASIBLE fetch plan: each host's
    * due URLs ([[changeRate]]'s due_us — when a page is EXPECTED to
    * have changed) are fetched as early as allowed under the
    * recurrence
    *
    *   fetch_at(0) = due(0)
    *   fetch_at(k) = max(due(k), fetch_at(k−1) + delayUs)
    *
    * — never before a page is due, never two host requests closer
    * than delayUs. The recurrence is NOT a plain window aggregate,
    * but it has the closed form
    *
    *   fetch_at(k) = delayUs·k + running_max(due(j) − delayUs·j)
    *
    * (induction: max(due(k), fetch_at(k−1)+delay) distributes over
    * the shifted maxima), which IS one running-max window — exact
    * 64-bit integer arithmetic end to end, replayed verbatim by the
    * oracle. Within a host the order is (due_us, url): earliest-due
    * first, url as the stable tiebreak. Output (host, url, due_us,
    * slot, fetch_at_us); one shuffle on host. */
  def dueSchedule(due: DataFrame, hostCol: String, urlCol: String,
      dueCol: String, delayUs: Long): DataFrame = {
    require(delayUs > 0, s"delayUs must be positive: $delayUs")
    val ord = Window.partitionBy("host").orderBy("due_us", "url")
    val run = Window.partitionBy("host").orderBy("due_us", "url")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    due
      .select(col(hostCol).cast("string").as("host"),
        col(urlCol).cast("string").as("url"),
        col(dueCol).cast("long").as("due_us"))
      .where(col("due_us").isNotNull)
      .withColumn("slot", (row_number().over(ord) - 1).cast("int"))
      .withColumn("__adj",
        col("due_us") - lit(delayUs) * col("slot").cast("long"))
      .withColumn("fetch_at_us",
        lit(delayUs) * col("slot").cast("long") +
          max(col("__adj")).over(run))
      .select(col("host"), col("url"), col("due_us"), col("slot"),
        col("fetch_at_us"))
  }

  /** [[dueSchedule]] with a PER-HOST delay — the politeness interval
    * is a host attribute (robots `Crawl-delay`, [[Robots
    * .crawlDelaySeeds]]; or a latency-derived policy), not a crawl
    * constant. `due` must carry the delay on its rows (join the
    * host-dimensioned delay table before calling — one broadcast
    * join, the delay table is bounded by the host dimension). The
    * closed form still holds because the delay is CONSTANT within a
    * window partition:
    *
    *   fetch_at(k) = delay_h·k + running_max(due(j) − delay_h·j)
    *
    * Anything but one positive delay per host is rejected loudly,
    * by one groupBy(host) guard aggregate: a zero delay is "no
    * politeness", which is a policy decision the caller should make
    * by passing 1 µs explicitly, not a default this function should
    * silently honor, and two delays on one host break the closed
    * form. Exact 64-bit integer arithmetic end to end; one shuffle on
    * host. */
  def dueSchedulePerHost(due: DataFrame, hostCol: String,
      urlCol: String, dueCol: String, delayCol: String): DataFrame = {
    val d = col(delayCol).cast("long")
    val bad = due.groupBy(col(hostCol).cast("string"))
      .agg(count(when(d.isNull || d <= 0, 1)).as("n_bad"),
        min(d).as("lo"), max(d).as("hi"))
      .where(col("n_bad") > 0 || col("lo") =!= col("hi"))
    require(bad.isEmpty,
      s"$delayCol must be one positive delay per host — null/zero " +
        "delays are a policy decision, not a default")
    val ord = Window.partitionBy("host").orderBy("due_us", "url")
    val run = Window.partitionBy("host").orderBy("due_us", "url")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    due
      .select(col(hostCol).cast("string").as("host"),
        col(urlCol).cast("string").as("url"),
        col(dueCol).cast("long").as("due_us"),
        col(delayCol).cast("long").as("delay_us"))
      .where(col("due_us").isNotNull)
      .withColumn("slot", (row_number().over(ord) - 1).cast("int"))
      .withColumn("__adj",
        col("due_us") - col("delay_us") * col("slot").cast("long"))
      .withColumn("fetch_at_us",
        col("delay_us") * col("slot").cast("long") +
          max(col("__adj")).over(run))
      .select(col("host"), col("url"), col("due_us"), col("delay_us"),
        col("slot"), col("fetch_at_us"))
  }

  /** ADAPTIVE per-host politeness from observed latency — the
    * Heritrix discipline (crawler-beans `delayFactor` /
    * `minDelayMs` / `maxDelayMs`: wait a multiple of how long the
    * host took to answer, clamped): a slow server gets a long gap, a
    * CDN a short one, and the clamp bounds both hostile outliers and
    * the aggression floor. This variant uses the per-host MEDIAN
    * latency (robust to a single 30 s timeout skewing the mean;
    * Spark `percentile` and DuckDB `quantile_cont` share the
    * numpy-linear definition — the q05 seam) rather than Heritrix's
    * last-fetch-only rule, which a batch planner has no reason to
    * prefer. delay = clamp(minDelayUs, maxDelayUs,
    * floor(factor · p50)). Output (host, delay_us) feeds
    * [[dueSchedulePerHost]] via a broadcast join. One groupBy(host)
    * carrying one exact percentile buffer per host; negative/null
    * latencies drop (clock skew is a logging bug, not a policy
    * input). */
  def adaptiveDelays(fetches: DataFrame, hostCol: String,
      latencyCol: String, factor: Double, minDelayUs: Long,
      maxDelayUs: Long): DataFrame = {
    require(factor > 0, s"factor must be positive: $factor")
    require(minDelayUs > 0 && minDelayUs <= maxDelayUs,
      s"need 0 < minDelayUs <= maxDelayUs: $minDelayUs, $maxDelayUs")
    fetches
      .select(col(hostCol).cast("string").as("host"),
        col(latencyCol).cast("long").as("__lat"))
      .where(col("host").isNotNull && col("__lat").isNotNull &&
        col("__lat") >= 0)
      .groupBy("host")
      .agg(expr("percentile(__lat, 0.5)").as("__p50"))
      .select(col("host"),
        least(greatest(floor(lit(factor) * col("__p50")).cast("long"),
          lit(minDelayUs)), lit(maxDelayUs)).as("delay_us"))
  }

  /** Sitemap-lastmod STALENESS triage — what a recrawler does with a
    * freshly fetched sitemap (sitemaps.org 0.9: `lastmod` is the
    * publisher's claim of last modification): reconcile the entry
    * list against the stored fetch state and class every URL:
    *
    *   0 `never_fetched`  no stored state — discovery, fetch first
    *   1 `stale`          publisher claims a change after our fetch
    *   2 `aged`           no lastmod claim and our copy is older
    *                      than `maxAgeUs` at `asOfUs` — refresh on
    *                      age alone (the no-claim fallback; sitemap
    *                      lastmod is OPTIONAL and often missing)
    *   3 `fresh`          claim predates our fetch, or no claim and
    *                      the copy is young
    *
    * The `priority` integer is the scheduling key (lower first);
    * within a class the caller orders by lastmod/fetch age. A
    * publisher-claimed lastmod NEWER than `asOfUs` still reads
    * `stale` (claims are hints, not clocks — Cho & Garcia-Molina's
    * λ̂ is the tool that learns which publishers lie; compose via
    * [[changeRate]]). One left equi-join on url, map-only CASE;
    * state is corpus-dimensioned so neither side broadcasts. */
  def sitemapStaleness(entries: DataFrame, urlCol: String,
      lastmodUsCol: String, state: DataFrame, stUrlCol: String,
      fetchedUsCol: String, asOfUs: Long, maxAgeUs: Long): DataFrame = {
    require(maxAgeUs > 0, s"maxAgeUs must be positive: $maxAgeUs")
    val e = entries.select(col(urlCol).cast("string").as("url"),
        col(lastmodUsCol).cast("long").as("lastmod_us"))
      .where(col("url").isNotNull)
    val st = state.select(col(stUrlCol).cast("string").as("__surl"),
        col(fetchedUsCol).cast("long").as("fetched_us"))
      .where(col("__surl").isNotNull && col("fetched_us").isNotNull)
    e.join(st, e("url") === st("__surl"), "left")
      .withColumn("pclass",
        when(col("__surl").isNull, "never_fetched")
          .when(col("lastmod_us").isNotNull &&
            col("lastmod_us") > col("fetched_us"), "stale")
          .when(col("lastmod_us").isNull &&
            lit(asOfUs) - col("fetched_us") > maxAgeUs, "aged")
          .otherwise("fresh"))
      .withColumn("priority",
        when(col("pclass") === "never_fetched", 0)
          .when(col("pclass") === "stale", 1)
          .when(col("pclass") === "aged", 2)
          .otherwise(3))
      .select(col("url"), col("pclass"), col("priority"),
        col("lastmod_us"), col("fetched_us"))
  }

  /** Per-host POLITENESS schedule: admitted URLs of one host are
    * spaced `delayUs` apart (slot k fetches at k·delayUs on the
    * host's own clock — hosts run in parallel, requests to ONE host
    * never burst), deterministic within-host order by `orderCol`.
    * Output (host, url, slot, fetch_at_us). One window per host. */
  def politenessSlots(admitted: DataFrame, hostCol: String,
      urlCol: String, delayUs: Long): DataFrame = {
    require(delayUs > 0, s"delayUs must be positive: $delayUs")
    val w = Window.partitionBy("host").orderBy("url")
    admitted
      .select(col(hostCol).cast("string").as("host"),
        col(urlCol).cast("string").as("url"))
      .withColumn("slot", (row_number().over(w) - 1).cast("int"))
      .withColumn("fetch_at_us", col("slot").cast("long") * delayUs)
  }
}
