package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DUST mining and crawl-trap detection — the URL-space hygiene pair
  * every large crawl runs between fetching and frontier growth.
  *
  * "Different URLs with Similar Text" (Bar-Yossef, Keidar, Schonfeld,
  * WWW 2007) observed that most duplicate URLs on a host follow
  * mechanical rewrite rules, and that the rules can be MINED from a
  * crawl sample and then applied to canonicalize the frontier without
  * fetching. [[paramRules]] implements the query-parameter family of
  * that idea — the dominant one on modern sites (session ids, click
  * tracking, `utm_*`): a parameter is droppable on a host when every
  * observed URL that carries it serves byte-identical content to the
  * same URL without it. This is the data-driven complement to
  * [[UrlResolve.canonicalize]]'s RFC 3986 §6 rules: §6 removes
  * spelling variance the spec GUARANTEES is meaning-free, DUST rules
  * remove variance the crawl PROVES is content-free on that host.
  *
  * [[trapHosts]] flags crawler traps (calendar pages, session-id URL
  * spaces, faceted-search combinatorics — the failure mode Heritrix
  * and IRLbot [Lee et al., TWEB 2009] devote whole subsystems to): a
  * host whose distinct-URL count races ahead of its distinct-CONTENT
  * count is minting URLs, not pages, and the frontier should stop
  * believing it. Both outputs feed the scheduler: rules shrink the
  * frontier before politeness budgeting ([[CrawlBudget]]), trap flags
  * zero a host's budget outright.
  *
  * Reference analog: the reference profiles URL columns only
  * syntactically (`src/pandas_profiling/model/summary_helpers.py`
  * URL decomposition); rule mining over (url, content) pairs is crawl
  * infrastructure the reference never needed. Fixture/gate: q411
  * (rules), q413 (traps).
  */
object Dust {

  private def hostOf(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)

  /** URL with any fragment stripped — fragments never reach the
    * server, so they carry no content evidence either way. */
  private def defragged(url: Column): Column =
    substring_index(url, "#", 1)

  /** Mine per-(host, parameter) droppability rules from a crawl log.
    *
    * `crawl` rows are (url, contentHash) observations; the pair must
    * be FUNCTIONAL (one hash per URL — a log spanning refetches of
    * changed pages needs versioning first; [[CrawlSchedule.changeRate]]
    * is the tool that detects such churn). Disagreeing hashes are
    * rejected loudly, never last-wins.
    *
    * For every URL carrying a query string, each parameter in turn is
    * stripped (others kept, ORIGINAL order — rule application must be
    * reproducible from the rule alone) and the stripped spelling is
    * looked up in the same crawl:
    *   - found with the SAME hash   → support for (host, param)
    *   - found with a DIFFERENT one → violation (param is load-bearing)
    *   - not found                  → no evidence (never counted)
    *
    * Output: one row per (host, param) that had ≥1 evidence row —
    * `n_urls` (URLs on the host carrying the param), `n_support`,
    * `n_violation`, and `safe` = support ≥ minSupport ∧ violations = 0
    * (the paper's precision-first posture: one counterexample kills
    * the rule).
    *
    * Scale (100 TB): parse + strip are map-only column expressions
    * (no UDF, whole-stage codegen); evidence is ONE equi-join of the
    * exploded candidates against the crawl on the stripped URL string
    * (shuffle hash join on the url key — both sides hash-partition,
    * no broadcast assumption since both scale with the crawl), then
    * one partially-aggregated groupBy on (host, param). Explode
    * fan-out is bounded by params-per-URL (single digits on real
    * crawls). The functional-pair guard is one aggregate over the
    * deduped log — driver sees only the verdict. */
  def paramRules(crawl: DataFrame, urlCol: String, hashCol: String,
      minSupport: Int = 2): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    val rows = crawl
      .select(defragged(col(urlCol).cast("string")).as("__url"),
        col(hashCol).cast("string").as("__hash"))
      .where(col("__url").isNotNull && col("__hash").isNotNull)
      .distinct()
    val disagree = rows.groupBy("__url").count().where(col("count") > 1)
    require(disagree.isEmpty,
      "crawl must be functional (one content hash per URL) — version " +
        "refetch logs (CrawlSchedule.changeRate) before mining rules")

    val withQuery = rows
      .withColumn("__qpos", instr(col("__url"), "?"))
      .where(col("__qpos") > 0)
      .withColumn("__pre", expr("substring(__url, 1, __qpos - 1)"))
      .withColumn("__params",
        split(expr("substring(__url, __qpos + 1)"), "&"))
    val candidates = withQuery
      .select(col("__url"), col("__hash"), col("__pre"),
        col("__params"), posexplode(col("__params")).as(Seq("__i", "__p")))
      .withColumn("__rest",
        filter(col("__params"), (_, i) => i =!= col("__i")))
      .select(
        hostOf(col("__url")).as("host"),
        substring_index(col("__p"), "=", 1).as("param"),
        col("__hash"),
        when(size(col("__rest")) === 0, col("__pre"))
          .otherwise(concat(col("__pre"), lit("?"),
            array_join(col("__rest"), "&"))).as("__stripped"))

    val target = rows.select(col("__url").as("__turl"),
      col("__hash").as("__thash"))
    candidates
      .join(target, candidates("__stripped") === target("__turl"))
      .groupBy("host", "param")
      .agg(
        count(lit(1)).as("n_evidence"),
        sum(when(col("__hash") === col("__thash"), 1L).otherwise(0L))
          .as("n_support"),
        sum(when(col("__hash") =!= col("__thash"), 1L).otherwise(0L))
          .as("n_violation"))
      .withColumn("safe",
        col("n_support") >= minSupport && col("n_violation") === 0)
  }

  /** Apply mined DUST rules to a frontier — the payoff of
    * [[paramRules]]: canonicalize URLs WITHOUT fetching by dropping
    * every parameter the crawl proved content-free on that host.
    * Output is (url, canonical_url): each frontier URL with its
    * safe params removed (remaining params keep their ORIGINAL
    * order — the reconstruction must be reproducible from the rule
    * set alone), the `?` dropped when nothing remains, fragments
    * stripped. URLs on hosts with no rules pass through unchanged.
    *
    * `rules` is [[paramRules]] output (or any (host, param) frame);
    * only rows with `safe = true` are applied. Compose with
    * [[UrlResolve.canonicalize]] (spec-guaranteed equivalence) for
    * the full frontier key.
    *
    * Scale (100 TB): the rule table is (host × param)-dimensioned —
    * bounded by the host dimension times single-digit params, so it
    * broadcasts (the [[Robots]] argument; a >2M-host rule set would
    * want the same dual-path treatment). The frontier side is
    * map-only parse + posexplode (fan-out bounded by params/URL),
    * one broadcast-hash join, one groupBy per input row to
    * reassemble — the single shuffle, partially aggregated. Each
    * input row yields exactly one output row: a frontier that lists
    * a URL twice gets it back twice, each with its own params. */
  def applyRules(frontier: DataFrame, urlCol: String,
      rules: DataFrame): DataFrame = {
    val safe = rules.where(col("safe"))
      .select(col("host").as("__rhost"), col("param").as("__rparam"))
      .distinct()
    val base = frontier
      .select(col(urlCol).cast("string").as("url"))
      .where(col("url").isNotNull)
      .withColumn("__defrag", defragged(col("url")))
      .withColumn("__qpos", instr(col("__defrag"), "?"))
    val noQuery = base.where(col("__qpos") === 0)
      .select(col("url"), col("__defrag").as("canonical_url"))
    val kept = base.where(col("__qpos") > 0)
      .withColumn("__rid", monotonically_increasing_id())
      .withColumn("__pre", expr("substring(__defrag, 1, __qpos - 1)"))
      .withColumn("host", hostOf(col("__defrag")))
      .select(col("__rid"), col("url"), col("__pre"), col("host"),
        posexplode(split(expr("substring(__defrag, __qpos + 1)"), "&"))
          .as(Seq("__i", "__p")))
      .join(broadcast(safe), col("host") === col("__rhost") &&
        substring_index(col("__p"), "=", 1) === col("__rparam"), "left")
      .groupBy("__rid", "url", "__pre")
      .agg(array_sort(collect_list(
        when(col("__rhost").isNull, struct(col("__i"), col("__p")))))
        .as("__keep"))
      .select(col("url"),
        when(size(col("__keep")) === 0, col("__pre"))
          .otherwise(concat(col("__pre"), lit("?"),
            array_join(transform(col("__keep"), x => x("__p")), "&")))
          .as("canonical_url"))
    noQuery.unionByName(kept)
  }

  /** Flag crawler-trap hosts from a crawl log.
    *
    * Per host: `n_urls` (distinct URLs seen), `n_contents` (distinct
    * content hashes those URLs served), `url_per_content` (the trap
    * signal — a calendar widget serves thousands of URLs from a
    * handful of page bodies), `avg_depth` / `max_depth` (path-segment
    * counts; traps also show up as unboundedly deep paths), and
    * `p_query` (fraction of URLs carrying a query string). A host is
    * a trap when it has enough mass to judge (`n_urls >= minUrls`)
    * and `url_per_content >= maxRatio`.
    *
    * Scale (100 TB): one groupBy(host) carrying two exact distinct
    * aggregates (Spark plans the multi-distinct via Expand — 2× the
    * map rows, still one shuffle, partial aggregation intact). On a
    * trillion-URL log swap the exact pair for
    * `approx_count_distinct` — the trap verdict needs one decimal
    * digit, not an exact count; the gate uses exact so DuckDB can
    * replay it. Ratios are rounded to 8 per the house fixed-decimal
    * discipline. */
  def trapHosts(crawl: DataFrame, urlCol: String, hashCol: String,
      minUrls: Long = 50L, maxRatio: Double = 10.0): DataFrame = {
    require(minUrls >= 1, s"minUrls must be >= 1: $minUrls")
    require(maxRatio > 0, s"maxRatio must be > 0: $maxRatio")
    val rows = crawl
      .select(defragged(col(urlCol).cast("string")).as("__url"),
        col(hashCol).cast("string").as("__hash"))
      .where(col("__url").isNotNull && col("__hash").isNotNull)
      .distinct()
      .withColumn("host", hostOf(col("__url")))
      .withColumn("__path",
        regexp_extract(col("__url"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1))
      .withColumn("__depth",
        when(col("__path") === "", 0)
          .otherwise(size(split(col("__path"), "/")) - 1))
      .withColumn("__has_q",
        when(instr(col("__url"), "?") > 0, 1.0).otherwise(0.0))
    rows.groupBy("host")
      .agg(
        countDistinct(col("__url")).as("n_urls"),
        countDistinct(col("__hash")).as("n_contents"),
        round(avg(col("__depth")), 8).as("avg_depth"),
        max(col("__depth")).as("max_depth"),
        round(avg(col("__has_q")), 8).as("p_query"))
      .withColumn("url_per_content",
        round(col("n_urls").cast("double") / col("n_contents"), 8))
      .withColumn("is_trap",
        col("n_urls") >= minUrls && col("url_per_content") >= maxRatio)
      .select(col("host"), col("n_urls"), col("n_contents"),
        col("url_per_content"), col("avg_depth"), col("max_depth"),
        col("p_query"), col("is_trap"))
  }
}
