package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** robots.txt parsing + crawl-permission evaluation per RFC 9309 (the
  * Robots Exclusion Protocol, published 2022) — the admission filter a
  * compliant web-ingestion pipeline applies BEFORE the WARC front end
  * keeps a page (q355/q356/q363 parse what was crawled; this decides
  * what may be). q371 gates it against an independent python twin of
  * the same RFC plus, on the wildcard-free subset, CPython's own
  * urllib.robotparser as a third validator.
  *
  * Implemented semantics (RFC 9309 §2):
  *  - lines `field: value`, `#` comments, field names case-insensitive;
  *    `user-agent`, `allow`, `disallow` interpreted, others skipped;
  *  - consecutive user-agent lines open a GROUP whose rules follow; a
  *    user-agent line after an allow/disallow/crawl-delay record
  *    starts a new group ([[groups]], the one grammar [[parse]] and
  *    [[crawlDelay]] share); groups naming the same agent COMBINE
  *    (§2.2.1);
  *  - group selection for a product token: case-insensitive exact
  *    token match, else the `*` group, else default-allow;
  *  - rule matching: `*` matches any octet run, `$` anchors the end;
  *    the rule with the LONGEST pattern wins (§2.2.2 most-specific);
  *    equal lengths → allow wins; empty-pattern disallow = allow-all;
  *    no matching rule → allowed.
  * Out of scope (documented): percent-encoding normalization.
  * `Sitemap:` records surface via [[sitemapRecords]]/[[sitemapSeeds]];
  * the non-standard `Crawl-delay` via [[crawlDelay]]/
  * [[crawlDelaySeeds]] (ignored by [[isAllowed]], which stays pure
  * RFC 9309).
  */
object Robots {

  final case class Rule(allow: Boolean, pattern: String)

  /** `field: value` records of a robots.txt body in file order — the
    * one line tokenizer every reader here shares: `#` comments
    * stripped, lines without a `field:` prefix skipped, field names
    * lowercased, both sides trimmed. A null body has no records. */
  private def records(txt: String): Seq[(String, String)] =
    Option(txt).getOrElse("").split("\n", -1).toSeq.flatMap { raw =>
      val h = raw.indexOf('#')
      val line = (if (h >= 0) raw.substring(0, h) else raw).trim
      val ci = line.indexOf(':')
      if (ci > 0) Some((line.substring(0, ci).trim.toLowerCase,
        line.substring(ci + 1).trim))
      else None
    }

  /** One user-agent group: its (lowercased) agent tokens and its
    * member records (`allow`, `disallow`, `crawl-delay`) in file
    * order. */
  private final case class Group(agents: Seq[String],
      rules: Seq[(String, String)])

  /** The one group grammar [[parse]] and [[crawlDelay]] walk:
    * consecutive `user-agent` lines open a group; an `allow`,
    * `disallow` or `crawl-delay` record joins the open group and ENDS
    * its agent list, so the next `user-agent` line starts a new group
    * (the rule CPython's `urllib.robotparser` follows); `sitemap` and
    * unknown records neither join nor end a group. Member records
    * before any user-agent line belong to no group and are dropped
    * (RFC: rules outside a group are ignored). A group without member
    * records is still returned, so its agents count as having a
    * group. */
  private def groups(txt: String): Seq[Group] = {
    val out = Seq.newBuilder[Group]
    var agents = Vector.empty[String]
    var rules = Vector.empty[(String, String)]
    def close(): Unit = {
      if (agents.nonEmpty) out += Group(agents, rules)
      agents = Vector.empty
      rules = Vector.empty
    }
    records(txt).foreach {
      case ("user-agent", v) =>
        if (rules.nonEmpty) close()
        if (v.nonEmpty) agents :+= v.toLowerCase
      case r @ (("allow" | "disallow" | "crawl-delay"), _) =>
        if (agents.nonEmpty) rules :+= r
      case _ => () // sitemap / unknown fields: not part of any group
    }
    close()
    out.result()
  }

  /** agent token (lowercased) → combined rules in file order. */
  def parse(txt: String): Map[String, Seq[Rule]] = {
    val acc = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Rule]]()
    groups(txt).foreach { g =>
      g.agents.foreach(a =>
        acc.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer[Rule]()))
      g.rules.foreach {
        case ("disallow", "") => () // allow-all: representable as no rule
        case (f @ ("allow" | "disallow"), v) =>
          g.agents.foreach(a => acc(a) += Rule(f == "allow", v))
        case _ => ()
      }
    }
    acc.map { case (k, v) => k -> v.toSeq }.toMap
  }

  /** `pattern` match against `path` from position 0: `*` wildcard,
    * trailing `$` end-anchor. Iterative greedy wildcard matcher (no
    * per-row regex compilation). */
  private[ops] def patternMatches(pattern: String, path: String): Boolean = {
    val (pat, anchored) =
      if (pattern.endsWith("$")) (pattern.dropRight(1), true)
      else (pattern, false)
    // match pat as a PREFIX of path (or the whole path when anchored)
    def m(pi: Int, si: Int): Boolean = {
      var p = pi
      var s = si
      while (p < pat.length) {
        if (pat.charAt(p) == '*') {
          // collapse consecutive stars; then try every suffix
          while (p < pat.length && pat.charAt(p) == '*') p += 1
          if (p == pat.length) return true // trailing '*' eats the rest
          var k = s
          while (k <= path.length) {
            if (m(p, k)) return true
            k += 1
          }
          return false
        } else if (s < path.length && path.charAt(s) == pat.charAt(p)) {
          p += 1; s += 1
        } else return false
      }
      !anchored || s == path.length
    }
    m(0, 0)
  }

  /** RFC 9309 verdict for one (groups, agent, path). Null agent/path
    * are treated as empty strings — hostile probe rows must never
    * throw inside a task (the repo-wide ingestion contract). */
  def isAllowed(groups: Map[String, Seq[Rule]], agent: String,
      path: String): Boolean = {
    val agent0 = Option(agent).getOrElse("")
    val path0 = Option(path).getOrElse("")
    val rules = groups.getOrElse(agent0.toLowerCase,
      groups.getOrElse("*", Seq.empty))
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (r.pattern.length >= bestLen && patternMatches(r.pattern, path0)) {
        // longer pattern wins; on EQUAL length allow wins (§2.2.2)
        if (r.pattern.length > bestLen) {
          bestLen = r.pattern.length
          bestAllow = r.allow
        } else if (r.pattern.length == bestLen && r.allow) {
          bestAllow = true
        }
      }
    }
    if (bestLen < 0) true else bestAllow
  }

  /** `Sitemap:` records from a robots.txt body — the sitemaps.org
    * discovery channel ("submitting via robots.txt"; RFC 9309 treats
    * them as other records, so [[parse]] skips them and verdicts are
    * unaffected). These are THE seed source for [[Sitemap.frontier]]:
    * robots names the sitemaps, the frontier walks them, and
    * [[crawlFilter]] gates what the walk surfaced — the full crawl
    * loop from one fetched file. Field name case-insensitive, values
    * verbatim (absolute URLs per the protocol), order preserved,
    * comments stripped, group position irrelevant (the record is
    * global to the file). */
  def sitemapRecords(txt: String): Seq[String] =
    records(txt).collect { case ("sitemap", v) if v.nonEmpty => v }

  /** (host, rec_idx, sm_url) seed table over per-host robots bodies —
    * map-only, one row per `Sitemap:` record in file order, ready to
    * feed [[Sitemap.frontier]]'s seeds. */
  def sitemapSeeds(robots: DataFrame, hostCol: String,
      txtCol: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string").as("host"),
        col(txtCol).cast("string").as("txt"))
      .as[(String, String)]
      .flatMap { case (host, txt) =>
        sitemapRecords(txt).zipWithIndex.map {
          case (u, i) => (host, i, u)
        }
      }
      .toDF("host", "rec_idx", "sm_url")
  }

  /** `Crawl-delay` for a product token — non-standard but widely
    * honored (Bing/Yandex document it; Google ignores it): seconds a
    * polite crawler waits between requests to the host. Group
    * selection mirrors [[isAllowed]]: the agent's OWN group beats
    * `*`, no group → None. Within the selected group the LAST valid
    * numeric value wins (file order — later directives override,
    * the same discipline user agents apply to repeated fields);
    * non-numeric / negative values are ignored, never a throw. A
    * group whose only directive is an invalid delay still COUNTS as
    * the selected group (selection is by user-agent match, not by
    * directive validity). */
  def crawlDelay(txt: String, agent: String): Option[Double] = {
    val delays = scala.collection.mutable.HashMap[String, Option[Double]]()
    groups(txt).foreach { g =>
      g.agents.foreach(a => delays.getOrElseUpdate(a, None))
      g.rules.foreach {
        case ("crawl-delay", v) =>
          v.toDoubleOption.filter(d => d >= 0 && !d.isNaN && !d.isInfinite)
            .foreach(d => g.agents.foreach(a => delays(a) = Some(d)))
        case _ => ()
      }
    }
    val tok = Option(agent).getOrElse("").toLowerCase
    delays.get(tok).orElse(delays.get("*")).flatten
  }

  /** (host, delay_us) politeness table over per-host robots bodies —
    * map-only, one row per host: the [[crawlDelay]] directive for
    * `agent` converted to microseconds, `defaultDelayUs` where the
    * host declares none, and capped at `maxDelayUs` (a hostile
    * `Crawl-delay: 9e9` must not freeze a scheduler slot — Bing caps
    * what it honors the same way; the cap keeps the
    * [[CrawlSchedule.dueSchedulePerHost]] closed form inside 64-bit
    * range at any frontier size). Feed the result straight into the
    * per-host schedule via a broadcast join — the table is bounded
    * by the host dimension. */
  def crawlDelaySeeds(robots: DataFrame, hostCol: String,
      txtCol: String, agent: String, defaultDelayUs: Long,
      maxDelayUs: Long = 60000000L): DataFrame = {
    require(defaultDelayUs > 0,
      s"defaultDelayUs must be positive: $defaultDelayUs")
    require(maxDelayUs >= defaultDelayUs,
      s"maxDelayUs ($maxDelayUs) must be >= defaultDelayUs " +
        s"($defaultDelayUs)")
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string").as("host"),
        col(txtCol).cast("string").as("txt"))
      .as[(String, String)]
      .map { case (host, txt) =>
        val us = crawlDelay(txt, agent)
          .map(d => math.min((d * 1000000L).toLong, maxDelayUs))
          .map(u => math.max(u, 1L)) // 0s declared -> minimal spacing
          .getOrElse(defaultDelayUs)
        (host, us)
      }
      .toDF("host", "delay_us")
  }

  /** Default host-count gate for [[crawlFilter]]'s broadcast path: a
    * robots row is a host name plus a body (median well under 1 KiB);
    * 2M hosts is low tens of MiB serialized — comfortably within
    * Spark's broadcast comfort zone. A full-web host census (~50M+
    * hosts) must NOT broadcast; above the gate both sides shuffle on
    * host instead and the evaluation stays partition-local. */
  val DefaultMaxBroadcastHosts: Long = 2000000L

  /** Map-only permission column over (host, agent, path) probes joined
    * to per-host robots bodies, dual-path on robots size:
    *
    *  - BROADCAST (robots host count ≤ `maxBroadcastHosts`): the
    *    common case — a crawl's robots table is one row per HOST and
    *    small relative to the probes; the join is shuffle-free.
    *  - PARTITIONED (above the gate): both sides hash-shuffle on
    *    host (plain sort-merge join, co-partitioned output), so a
    *    50M-host census never materializes on the driver.
    *
    * Either way the verdict pass is one mapPartitions with a per-host
    * parsed-group cache: under the partitioned path every row of a
    * host lands in the same partition, so the cache hits exactly as
    * it does under broadcast. Sizing the gate: callers that already
    * know the host-census size pass it as `robotsHostCount` and the
    * robots frame stays LAZY (no job runs at construction time);
    * absent a hint the projected robots frame is localCheckpoint-ed
    * eagerly ONCE and the count reads the materialized blocks — an
    * expensive upstream robots derivation is never evaluated twice
    * (once for the count, again for the join). Null agent/path rows
    * evaluate as "" and never throw; hosts absent from robots are
    * allowed (RFC §2.3.1.2). */
  def crawlFilter(probes: DataFrame, hostCol: String, agentCol: String,
      pathCol: String, robots: DataFrame, robotsHostCol: String,
      txtCol: String,
      maxBroadcastHosts: Long = DefaultMaxBroadcastHosts,
      robotsHostCount: Option[Long] = None): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val p = probes
      .select(col(hostCol).cast("string").as("host"),
        col(agentCol).cast("string").as("agent"),
        col(pathCol).cast("string").as("path"))
    val r0 = robots.select(
      col(robotsHostCol).cast("string").as("host"),
      col(txtCol).cast("string").as("__txt"))
    // (size, frame-to-join): with a caller hint the constructor stays
    // fully lazy; without one the projected frame materializes once
    // (eager localCheckpoint — the Sitemap.frontier discipline) and
    // both the count and the join read the checkpointed blocks
    val (nHosts, r) = robotsHostCount match {
      case Some(n) => (n, r0)
      case None =>
        val mat = r0.localCheckpoint(true)
        (mat.count(), mat)
    }
    val joined =
      (if (nHosts <= maxBroadcastHosts) p.join(broadcast(r), Seq("host"), "left")
       else p.join(r, Seq("host"), "left"))
        .as[(String, String, String, String)]
    joined.mapPartitions { it =>
      val verdict = verdicts[String]()
      it.map { case (host, agent, path, txt) =>
        (host, agent, path, verdict(host, txt, agent, path))
      }
    }.toDF("host", "agent", "path", "allowed")
  }

  /** A parse-once verdict function for one partition: `(key, body,
    * agent, path) => allowed`, parsing each key's body the first time
    * the key is seen and reusing the parsed groups after that. The key
    * names the body (a host, or a host and its version window), so two
    * different bodies must never share a key. A null body is allowed
    * (no robots.txt → allowed, RFC §2.3.1.2). Shared by [[crawlFilter]],
    * the streaming fetch-time filter and the streaming ingest gate. */
  private[graft] def verdicts[K](): (K, String, String, String) => Boolean = {
    val cache = scala.collection.mutable.HashMap[K, Map[String, Seq[Rule]]]()
    (key, txt, agent, path) =>
      txt == null ||
        isAllowed(cache.getOrElseUpdate(key, parse(txt)), agent, path)
  }
}
