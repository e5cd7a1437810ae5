package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.StatFunctions._
import graft.ops.{Decompose, Sampling}
import graft.queries.QueryCatalog.table

/** Remaining SURVEY §2 operators: URL/path decomposition, JSON
  * extraction, 2-D scatter histograms, nullity correlation, extreme
  * observations, deterministic sampling, memory estimation. */
object ExtraQueries {

  /** URL decomposition value_counts (reference:
    * summary_algorithms.py:360-381). The testdata has no URL column, so
    * URLs are constructed deterministically from documents fields —
    * the decomposition logic is what is under test. */
  val qUrlStats = Q(
    "q33_url_stats",
    (s, dir) => {
      val urls = table(s, dir, "documents").select(
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast("string"), lit("?lang="), col("lang"),
          lit("#s1")).as("url"))
      val parts = Decompose.urlParts(col("url"))
      urls.select(
          parts("scheme").as("scheme"), parts("host").as("host"),
          parts("query").as("query"))
        .groupBy("scheme", "host", "query")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("host"), col("query"))
        .limit(25)
    },
    Some("""WITH u AS (SELECT 'https://' || source || '.example.com/docs/' ||
               CAST(doc_id AS VARCHAR) || '?lang=' || lang || '#s1' AS url
             FROM documents)
      SELECT regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
             regexp_extract(url, '\?([^#]*)', 1) AS query,
             count(*) AS cnt
      FROM u GROUP BY scheme, host, query
      ORDER BY cnt DESC, host, query LIMIT 25"""))

  /** Path decomposition value_counts (reference: summary_helpers.py:143-170). */
  val qPathStats = Q(
    "q34_path_stats",
    (s, dir) => {
      val paths = table(s, dir, "documents").select(
        concat(lit("/data/"), col("lang"), lit("/"), col("source"),
          lit("/doc_"), col("doc_id").cast("string"), lit(".txt")).as("p"))
      val parts = Decompose.pathParts(col("p"))
      paths.select(parts("parent").as("parent"), parts("suffix").as("suffix"))
        .groupBy("parent", "suffix").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("parent"))
        .limit(25)
    },
    Some("""WITH p AS (SELECT '/data/' || lang || '/' || source || '/doc_' ||
               CAST(doc_id AS VARCHAR) || '.txt' AS p FROM documents)
      SELECT regexp_extract(p, '^(.*)/[^/]*$', 1) AS parent,
             regexp_extract(p, '(\.[^./]*)$', 1) AS suffix,
             count(*) AS cnt
      FROM p GROUP BY parent, suffix ORDER BY cnt DESC, parent LIMIT 25"""))

  /** JSON field extraction + grouped aggregate over events.props. */
  val qJsonExtract = Q(
    "q35_json_extract",
    (s, dir) =>
      table(s, dir, "events")
        .select(col("event_type"),
          Decompose.jsonField(col("props"), "k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          (sum(col("k")).cast("double") / count(col("k"))).as("mean_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(k) AS n,
        CAST(sum(k) AS DOUBLE) / count(k) AS mean_k
      FROM (SELECT event_type,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  /** 2-D scatter histogram: groupBy binned (x, y) — the reference's
    * spark_scatter_pairwise (visualisation/plot.py:283-330) generalized
    * to fixed-width 2-D bins. */
  val qScatter2d = Q(
    "q36_scatter_2d",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      val st = df.agg(
        min(col("l_quantity")).cast("double"), max(col("l_quantity")).cast("double"),
        min(col("l_extendedprice")).cast("double"),
        max(col("l_extendedprice")).cast("double")).head()
      val (qmn, qmx, pmn, pmx) =
        (st.getDouble(0), st.getDouble(1), st.getDouble(2), st.getDouble(3))
      df.select(
          histogramBin(col("l_quantity").cast("double"), qmn, qmx, 10).as("bx"),
          histogramBin(col("l_extendedprice").cast("double"), pmn, pmx, 10).as("by"))
        .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
        .orderBy("bx", "by")
    },
    Some("""WITH st AS (SELECT CAST(min(l_quantity) AS DOUBLE) qmn,
                               CAST(max(l_quantity) AS DOUBLE) qmx,
                               CAST(min(l_extendedprice) AS DOUBLE) pmn,
                               CAST(max(l_extendedprice) AS DOUBLE) pmx
                        FROM lineitem)
      SELECT CAST(least(floor((l_quantity - st.qmn) / ((st.qmx - st.qmn) / 10)), 9) AS INT) AS bx,
             CAST(least(floor((l_extendedprice - st.pmn) / ((st.pmx - st.pmn) / 10)), 9) AS INT) AS by,
             count(*) AS cnt
      FROM lineitem, st GROUP BY bx, by ORDER BY bx, by"""))

  /** Nullity correlation — the missing-data heatmap the reference only
    * has on pandas (visualisation/missing.py:104-171): corr of
    * null-indicator columns (derived nulls here since the testdata is
    * fully populated). */
  val qNullityCorr = Q(
    "q37_nullity_corr",
    (s, dir) =>
      table(s, dir, "lineitem")
        .select(
          nullif(col("l_discount"), lit(0.0)).isNull.cast("int").as("na"),
          nullif(col("l_tax"), lit(0.0)).isNull.cast("int").as("nb"))
        .agg(round(corr(col("na"), col("nb")), 8).as("nullity_corr")),
    Some("""SELECT round(corr(na, nb), 8) AS nullity_corr
      FROM (SELECT CAST(nullif(l_discount, 0.0) IS NULL AS INT) na,
                   CAST(nullif(l_tax, 0.0) IS NULL AS INT) nb
            FROM lineitem)"""))

  /** Extreme observations: 5 smallest + 5 largest by value
    * (TakeOrderedAndProject in both directions, no global sort). */
  val qExtremeObs = Q(
    "q38_extreme_obs",
    (s, dir) =>
      Sampling.extremeObs(
          table(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice"),
          "l_extendedprice", 5, Seq("l_orderkey", "l_linenumber"))
        .orderBy("extreme", "l_extendedprice", "l_orderkey", "l_linenumber"),
    Some("""(SELECT * FROM
        (SELECT l_orderkey, l_linenumber, l_extendedprice, 'min' AS extreme
         FROM lineitem
         ORDER BY l_extendedprice, l_orderkey, l_linenumber LIMIT 5))
      UNION ALL
      (SELECT * FROM
        (SELECT l_orderkey, l_linenumber, l_extendedprice, 'max' AS extreme
         FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 5))
      ORDER BY extreme, l_extendedprice, l_orderkey, l_linenumber"""))

  /** Deterministic hash sampling — engine-portable, repartition-stable
    * (replaces seeded-PRNG df.sample for reproducible pipelines). */
  val qHashSample = Q(
    "q39_hash_sample",
    (s, dir) =>
      Sampling.hashSample(table(s, dir, "orders"), "o_orderkey", 2)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
    Some(s"""SELECT o_orderkey, o_totalprice FROM orders
      WHERE ('0x'||substr(md5('0:'||CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT % 100 < 2
      ORDER BY o_orderkey"""))

  /** Distributed memory estimate (reference: cube-root sample ->
    * toPandas memory_usage, dataframe_wrappers.py:503-513 — here one
    * exact aggregate, no driver transfer). */
  val qMemoryEstimate = Q(
    "q40_memory_estimate",
    (s, dir) =>
      Sampling.memoryEstimate(
        table(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")),
    Some("""SELECT CAST(sum(8 + octet_length(o_orderstatus::BLOB) + 8 +
               octet_length(o_orderpriority::BLOB)) AS BIGINT) AS est_bytes,
             count(*) AS n_rows FROM orders"""))

  /** Kendall tau-b by distributed pair counting over a deterministic
    * hash-sample of min(1%, 10^4 rows) — the absolute cap (taken in hash
    * order of the unique (orderkey, linenumber) key) hard-bounds the
    * O(n^2) pair join at ANY scale; a percent alone does not (1% of 10^9
    * rows is 5*10^13 pairs). Statistically honest: s.e. ~ 1/sqrt(n), so
    * >10^4 rows buys nothing. (Reference pulls the whole table to one
    * node instead — correlations.py:140-216.) */
  val qKendall = Q(
    "q41_kendall",
    (s, dir) =>
      graft.ops.Kendall.tauB(
        Sampling.hashSampleCapped(table(s, dir, "lineitem"), "l_orderkey", 1,
          10000, concat_ws("_", col("l_orderkey"), col("l_linenumber"))),
        "l_quantity", "l_extendedprice"),
    Some("""WITH base AS (
        SELECT l_quantity AS x, l_extendedprice AS y,
               row_number() OVER () AS rid
        FROM (
          SELECT * FROM lineitem
          WHERE ('0x'||substr(md5('0:'||CAST(l_orderkey AS VARCHAR)),1,15))::BIGINT % 100 < 1
          ORDER BY ('0x'||substr(md5('1:'||l_orderkey||'_'||l_linenumber),1,15))::BIGINT
          LIMIT 10000)),
      p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
            FROM base a JOIN base b ON a.rid < b.rid),
      agg AS (SELECT count(*) n_pairs,
          CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) c,
          CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) d,
          CAST(sum(CASE WHEN dx = 0 AND dy != 0 THEN 1 ELSE 0 END) AS BIGINT) tx,
          CAST(sum(CASE WHEN dy = 0 AND dx != 0 THEN 1 ELSE 0 END) AS BIGINT) ty
        FROM p)
      SELECT n_pairs, c AS concordant, d AS discordant,
             round(CAST(c - d AS DOUBLE) /
                   sqrt(CAST(c + d + tx AS DOUBLE) * CAST(c + d + ty AS DOUBLE)),
                   8) AS tau_b
      FROM agg"""))

  /** EXACT distributed Kendall tau-b on the gate
    * ([[graft.ops.Kendall.tauBExactDistributed]] — the SURVEY §2.5
    * stretch q41's capped sample deferred): Knight's O(n log n) count
    * distributed by grid decomposition — cross-bucket discordance from
    * a bounded B×B contingency matrix on the driver, within-bucket
    * discordance from the [[graft.functions.DiscordantPairs]]
    * TypedImperativeAggregate per grid group, tie terms from three
    * linear groupBy counts. No O(n²) pair join anywhere on the Spark
    * side; the ORACLE is the O(n²) pair self-join over the same slice
    * (oracle-feasible at fixture scale), so every emitted term — both
    * tie totals, the joint-tie total, the exact discordant count, and
    * the 8-dp tau — is hash-checked against the direct definition. */
  val qKendallExact = Q(
    "q261_kendall_exact",
    (s, dir) =>
      graft.ops.Kendall.tauBExactDistributed(
        table(s, dir, "lineitem").where(col("l_orderkey") % 16 === 0),
        "l_quantity", "l_extendedprice", buckets = 16),
    Some("""WITH base AS (
        SELECT l_quantity AS x, l_extendedprice AS y,
               row_number() OVER () AS rid
        FROM lineitem WHERE l_orderkey % 16 = 0),
      p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
            FROM base a JOIN base b ON a.rid < b.rid),
      agg AS (SELECT count(*) AS n_pairs,
          CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) q,
          CAST(sum(CASE WHEN dx = 0 AND dy != 0 THEN 1 ELSE 0 END) AS BIGINT) txo,
          CAST(sum(CASE WHEN dy = 0 AND dx != 0 THEN 1 ELSE 0 END) AS BIGINT) tyo,
          CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT) txy
        FROM p),
      nn AS (SELECT count(*) AS n FROM base)
      SELECT nn.n AS n, agg.n_pairs AS n_pairs,
        (txo + txy) AS t_x, (tyo + txy) AS t_y, txy AS t_xy,
        q AS discordant,
        round(CAST(agg.n_pairs - (txo+txy) - (tyo+txy) + txy - 2*q
                AS DOUBLE)
              / sqrt(CAST(agg.n_pairs - (txo+txy) AS DOUBLE)
                   * CAST(agg.n_pairs - (tyo+txy) AS DOUBLE)),
              8) AS tau_b
      FROM agg, nn"""))

  /** MapType canonicalization (Decompose.canonicalizeMaps — the same
    * code path the Profiler runs on map columns): a map column derived
    * from orders becomes a sorted-entries string, so value_counts is an
    * ordinary groupBy. The oracle reconstructs Spark's canonical
    * rendering `[{k, v}, ...]` by string concatenation from the known
    * keys — a wrong sort order, separator, or entry layout breaks the
    * hash match. (Reference canonicalizes map -> array(map_keys,
    * map_values): series_wrappers.py:64-66, dataframe_wrappers.py:520-531.) */
  val qMapValueCounts = Q(
    "q42_map_value_counts",
    (s, dir) => {
      val src = table(s, dir, "orders")
        .select(map(
          lit("priority"), col("o_orderpriority"),
          lit("status"), col("o_orderstatus")).as("m"))
      Decompose.canonicalizeMaps(src)
        .groupBy(col("m")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("m"))
    },
    Some("""SELECT '[{priority, ' || o_orderpriority || '}, {status, '
               || o_orderstatus || '}]' AS m,
             count(*) AS cnt
      FROM orders GROUP BY 1 ORDER BY m"""))

  /** Skew-safe salted join (Skew.saltedJoin): the big side is salted by
    * a deterministic row hash, the dimension side replicated per salt,
    * so a hot join key spreads over `salts` tasks instead of stalling
    * one straggler. Output is bit-identical to the plain join — which
    * is exactly what the oracle checks (the plain SQL join). */
  val qSaltedJoin = Q(
    "q44_skew_salted_join",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = table(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.Skew.saltedJoin(li, ord, "l_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_items,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderpriority"""))

  /** Stratified deterministic sampling — per-language rates over the
    * documents corpus, the shape a training-mix builder runs (upsample
    * en, downsample the tail). Engine-portable hash: the oracle keeps
    * the exact same rows. */
  val qStratifiedSample = Q(
    "q51_stratified_sample",
    (s, dir) =>
      Sampling.stratifiedHashSample(table(s, dir, "documents"),
          "doc_id", "lang", Map("en" -> 50, "de" -> 10), defaultPct = 5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, source FROM documents
      WHERE ('0x'||substr(md5('0:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 <
        CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 10 ELSE 5 END
      ORDER BY doc_id"""))

  /** Shared body of the file-source round-trip queries: write the
    * lineitem table out in `format`, read it back through the schema'd
    * source, and aggregate with ORDER-INDEPENDENT, exactly-representable
    * aggregates (counts, integer sums, min/max, formatted timestamps) so
    * the result is bit-comparable with the same SQL over the original
    * parquet. A lossy writer/reader (quoting, date formats, type
    * inference) fails the hash; float SUMS are avoided because their
    * value depends on row order, which the round-trip legitimately
    * changes. */
  private def sourceRoundTrip(format: String)(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val src = table(s, dir, "lineitem")
    // PID-scoped: two concurrent runs over the same data dir must not
    // overwrite each other's round-trip files mid-read
    val path = System.getProperty("java.io.tmpdir") +
      s"/graft_${format}_${Integer.toHexString(dir.hashCode)}_" +
      ProcessHandle.current.pid
    val w = src.write.mode("overwrite")
    (if (format == "csv") w.option("header", "true") else w).format(format)
      .save(path)
    val r = s.read.schema(src.schema)
    val back = (if (format == "csv") r.option("header", "true") else r)
      .format(format).load(path)
    back.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        sum("l_linenumber").as("sum_linenumber"),
        sum("l_orderkey").as("sum_orderkey"),
        round(min("l_quantity"), 6).as("min_qty"),
        round(max("l_extendedprice"), 6).as("max_price"),
        countDistinct("l_suppkey").as("n_supp"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss")
          .as("max_shipdate"))
      .orderBy("l_returnflag")
  }

  private val sourceRoundTripSql = """SELECT l_returnflag,
      count(*) AS cnt,
      CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber,
      CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
      round(min(l_quantity), 6) AS min_qty,
      round(max(l_extendedprice), 6) AS max_price,
      CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_shipdate
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** CSV source round-trip (reference reads csv/tsv via pandas/spark,
    * utils/dataframe.py:24-67): write-then-scan with explicit schema —
    * covers quoting, header handling, and date/timestamp formats. */
  val qCsvScan = Q("q47_csv_scan", sourceRoundTrip("csv"), Some(sourceRoundTripSql))

  /** JSON-lines source round-trip (same reference surface, .json/.jsonl):
    * covers per-line JSON encode/decode and schema'd read. */
  val qJsonlScan = Q("q48_jsonl_scan", sourceRoundTrip("json"), Some(sourceRoundTripSql))

  /** ORC source round-trip: the third columnar format of the warehouse
    * world through the same write→read→aggregate gate as csv/jsonl —
    * covers Spark's native ORC writer/reader (type mapping, timestamp
    * fidelity) end-to-end. */
  val qOrcScan = Q("q224b_orc_scan", sourceRoundTrip("orc"), Some(sourceRoundTripSql))

  /** Spark 4 VARIANT end-to-end (`parse_json` → binary variant →
    * `variant_get` typed extraction): the OPEN-type column a
    * semi-structured ingest keeps when schemas drift — unlike q35's
    * string-path `get_json_object`, the variant parses ONCE into a
    * typed binary encoding and every extraction is a cheap typed read
    * (the Parquet VARIANT story at 100 TB: shred once, read many).
    * Gate: parse events.props, extract $.k as long, per-type stats +
    * a try-variant malformed-row count, vs DuckDB's JSON reader. */
  val qVariantExtract = Q(
    "q258_variant_extract",
    (s, dir) =>
      table(s, dir, "events")
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "long").as("k"),
          // missing path -> NULL (not an error): the schema-drift case
          variant_get(parse_json(col("props")), "$.absent", "long")
            .as("absent"),
          // try_parse_json: malformed input -> NULL variant, no job kill
          when(try_parse_json(lit("{not json")).isNull, 1).otherwise(0)
            .as("malformed_is_null"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          count(col("absent")).as("n_absent"),
          min(col("malformed_is_null")).as("malformed_null"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(k) AS n,
        CAST(sum(k) AS BIGINT) AS sum_k,
        min(k) AS min_k, max(k) AS max_k,
        count(absent) AS n_absent,
        1 AS malformed_null
      FROM (SELECT event_type,
              CAST(json_extract(props, '$.k') AS BIGINT) AS k,
              CAST(json_extract(props, '$.absent') AS BIGINT) AS absent
            FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  /** Observed scan-side metrics (`Dataset.observe` / the Observation
    * API): a pipeline's data-quality COUNTERS — rows scanned, nulls,
    * filter pass-rate numerators — ride the MAIN query's single scan
    * as AggregatingAccumulators instead of costing a second pass, the
    * Spark-native answer to "instrument the job, don't re-run it".
    * The query computes a real result (revenue by returnflag over the
    * shipped slice) while observing totals over the UNFILTERED scan;
    * the emitted row fuses both, and the oracle recomputes each side
    * independently — so a metrics/result mix-up (observing after the
    * filter, double-counting under AQE retries) fails the gate. */
  val qObserveMetrics = Q(
    "q257_observe_metrics",
    (s, dir) => {
      val obs = new org.apache.spark.sql.Observation()
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .observe(obs,
          count(lit(1)).as("rows_scanned"),
          count(when(col("l_shipdate").isNull, 1)).as("null_shipdates"),
          count(when(col("l_returnflag") === "R", 1)).as("returned_rows"))
      val result = li.where(col("l_returnflag") === "R")
        .agg(count(lit(1)).as("n_returned"),
          sum(col("l_quantity")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double").as("qty_returned"))
        .collect()(0)
      // the action above finalized the observation; get() cannot block
      val m = obs.get
      import s.implicits._
      Seq((m("rows_scanned").asInstanceOf[Long],
        m("null_shipdates").asInstanceOf[Long],
        m("returned_rows").asInstanceOf[Long],
        result.getLong(0), result.getDouble(1)))
        .toDF("rows_scanned", "null_shipdates", "returned_rows",
          "n_returned", "qty_returned")
    },
    Some("""SELECT
        (SELECT count(*) FROM lineitem) AS rows_scanned,
        (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
          AS null_shipdates,
        (SELECT count(*) FROM lineitem WHERE l_returnflag = 'R')
          AS returned_rows,
        (SELECT count(*) FROM lineitem WHERE l_returnflag = 'R')
          AS n_returned,
        (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
          FROM lineitem WHERE l_returnflag = 'R') AS qty_returned"""))

  /** Mergeable frequent-items top-K (Spark 4's built-in approx_top_k,
    * DataSketches ItemsSketch) — the sketch the 100 TB profile mode uses
    * for per-column top values (Profiler pass A, sketch branch). The
    * sketch is EXACT while a column's cardinality fits its map
    * (~1.5x maxItemsTracked), so running it with k=4096 over columns of
    * 2-2500 distinct values makes every (value, count) pair
    * hash-comparable against plain SQL GROUP BY counts — the oracle
    * proves the sketch's exact regime end-to-end, while
    * SketchAccuracySpec bounds the above-capacity regime. */
  val qApproxTopK = Q(
    "q56_approx_topk",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      def one(c: String) = li
        .agg(expr(s"approx_top_k($c, 4096, 4096)").as("t"))
        .select(explode(col("t")).as("e"))
        .select(lit(c).as("c"), col("e.item").cast("string").as("v"),
          col("e.count").as("cnt"))
      one("l_returnflag").unionAll(one("l_linestatus"))
        .unionAll(one("l_shipdate"))
        .orderBy("c", "v")
    },
    Some("""SELECT c, v, cnt FROM (
        SELECT 'l_returnflag' AS c, CAST(l_returnflag AS VARCHAR) AS v,
          count(*) AS cnt FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR), count(*)
        FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 'l_shipdate', CAST(l_shipdate AS VARCHAR), count(*)
        FROM lineitem GROUP BY 2)
      ORDER BY c, v"""))

  /** Per-group exact quantiles — grouped percentile buffers (one
    * ObjectHashAggregate with partial merge), the per-segment flavor of
    * q05. At 100 TB cardinalities the sketch path (approx_percentile /
    * GK, same plan shape) is the operating mode; exact here for the
    * oracle. */
  val qGroupedQuantiles = Q(
    "q69_grouped_quantiles",
    (s, dir) => {
      table(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(value, array(0.25,0.5,0.75,0.95))").as("qs"),
          count(col("value")).as("n"))
        .select(
          col("event_type"),
          round(element_at(col("qs"), 1), 6).as("p25"),
          round(element_at(col("qs"), 2), 6).as("p50"),
          round(element_at(col("qs"), 3), 6).as("p75"),
          round(element_at(col("qs"), 4), 6).as("p95"),
          col("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
      round(quantile_cont(value, 0.25), 6) AS p25,
      round(quantile_cont(value, 0.5), 6) AS p50,
      round(quantile_cont(value, 0.75), 6) AS p75,
      round(quantile_cont(value, 0.95), 6) AS p95,
      count(value) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Embedding covariance via the one-pass mapPartitions Gram
    * accumulation in [[graft.ops.Pca]] — the PCA/whitening input. The
    * oracle recomputes each of the 8×8 upper-triangle entries with
    * covar_samp, so the distributed Gram path (not a per-pair agg) is
    * what gets hash-checked. */
  val qEmbedCovariance = {
    val dims = 0 until 8
    val pairs = for { i <- dims; j <- dims if j >= i } yield (i, j)
    Q(
      "q70_embed_covariance",
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
          .select(slice(col("embedding"), 1, dims.size).as("v"))
        val (cov, _, _) =
          graft.ops.Pca.covarianceMatrix(emb, "v", dims.size)
        val row = org.apache.spark.sql.Row.fromSeq(pairs.map { case (i, j) =>
          BigDecimal(cov(i)(j)).setScale(8, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
        })
        val schema = org.apache.spark.sql.types.StructType(pairs.map {
          case (i, j) => org.apache.spark.sql.types.StructField(
            s"cov_${i}_$j", org.apache.spark.sql.types.DoubleType)
        }.toSeq)
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(row)), schema)
      },
      Some("SELECT " + pairs.map { case (i, j) =>
        s"round(covar_samp(embedding[${i + 1}], embedding[${j + 1}]), 8)" +
          s" AS cov_${i}_$j"
      }.mkString(", ") + " FROM embeddings"))
  }

  /** Canonical-URL dedup ([[Decompose.urlCanonical]]): messy URL
    * variants (www., :443, trailing slash, utm_ and fbclid params,
    * fragments — planted deterministically from doc fields) collapse to
    * one canonical key, then dedup-count per key. The CommonCrawl
    * first-stage dedup: map-only normalize in the scan stage + one hash
    * shuffle. The DuckDB oracle replicates the normalization with RE2
    * ('g'-flagged replaces; Spark's regexp_replace is always-global). */
  val qUrlDedup = Q(
    "q75_url_dedup",
    (s, dir) => {
      val url = concat(
        lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit(".example.com"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (col("doc_id") % 100).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("?utm_source=x&utm_campaign=y"))
          .when(col("doc_id") % 4 === 1, concat(lit("?lang="), col("lang")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
      table(s, dir, "documents")
        .select(Decompose.urlCanonical(url).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("canonical_url")
    },
    Some("""WITH u AS (SELECT 'https://'
          || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
          || source || '.example.com'
          || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
          || '/docs/' || CAST(doc_id % 100 AS VARCHAR)
          || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
          || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&utm_campaign=y'
                  WHEN doc_id % 4 = 1 THEN '?lang=' || lang
                  ELSE '' END
          || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents),
      nf AS (SELECT url, regexp_replace(url, '#.*', '') AS u0 FROM u),
      parts AS (SELECT url,
          lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            AS scheme,
          regexp_replace(
            lower(regexp_extract(u0,
              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
            '^www\.', '') AS host0,
          rtrim(regexp_extract(u0,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/')
            AS path1,
          regexp_replace(regexp_replace(
            regexp_extract(u0, '\?(.*)$', 1),
            '(?:^|&)(?:utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&]*', '', 'g'),
            '^&', '') AS query
        FROM nf),
      canon AS (SELECT url, scheme, query, path1,
          CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
               WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
               ELSE host0 END AS host
        FROM parts)
      SELECT CASE WHEN scheme = '' OR host = '' THEN url
          ELSE scheme || '://' || host
            || CASE WHEN path1 = '' THEN '/' ELSE path1 END
            || CASE WHEN query = '' THEN '' ELSE '?' || query END
          END AS canonical_url,
        count(*) AS n_docs
      FROM canon GROUP BY 1 ORDER BY 1"""))

  /** Incremental-profile merge, oracle-checked end-to-end: lineitem is
    * split into two slices, each summarized independently
    * ([[graft.ops.IncrementalProfile.summarize]]), the summaries merged
    * (Pébay moment composition), stats derived — and the oracle computes
    * the same statistics over the UNSPLIT table. Green means
    * profile(A ∪ B) == merge(profile(A), profile(B)) against an
    * independent engine, not just against ourselves. */
  val qIncrementalMerge = {
    val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
    Q(
      "q76_incremental_merge",
      (s, dir) => {
        import graft.ops.IncrementalProfile._
        val li = table(s, dir, "lineitem")
        val merged = merge(
          summarize(li.where(col("l_orderkey") % 2 === 0), cols)
            .unionByName(
              summarize(li.where(col("l_orderkey") % 2 === 1), cols)))
        stats(merged)
          .select(
            col("column").as("c"), col("n"),
            round(col("mean"), 5).as("mean"),
            round(col("std"), 5).as("std"),
            round(col("skewness"), 5).as("skew"),
            round(col("kurtosis"), 5).as("kurt"),
            col("min").as("vmin"), col("max").as("vmax"))
          .orderBy("c")
      },
      Some(cols.map { c =>
        s"""SELECT '$c' AS c, count($c) AS n,
          round(avg($c), 5) AS mean, round(stddev_samp($c), 5) AS std,
          round(skewness($c), 5) AS skew, round(kurtosis($c), 5) AS kurt,
          min($c) AS vmin, max($c) AS vmax FROM lineitem"""
      }.mkString("", " UNION ALL ", " ORDER BY c")))
  }

  /** Equi-depth histogram with exact ntile semantics but NO global
    * window ([[graft.ops.EquiDepth]]): positions assembled from the
    * distributed prefix-sum rank + a per-value tie window. The oracle
    * IS `ntile(k) over (order by ...)` — DuckDB can afford the global
    * sort at sf; we must match it bin-for-bin without one. */
  val qEquiDepth = Q(
    "q78_equidepth_hist",
    (s, dir) =>
      graft.ops.EquiDepth
        .equiDepthHistogram(
          table(s, dir, "lineitem")
            .select("l_extendedprice", "l_orderkey", "l_linenumber"),
          "l_extendedprice", 10, Seq("l_orderkey", "l_linenumber"))
        .orderBy("bin"),
    Some("""WITH b AS (SELECT l_extendedprice AS v,
          ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
            l_linenumber) AS bin
        FROM lineitem)
      SELECT bin, count(*) AS n, min(v) AS lo, max(v) AS hi
      FROM b GROUP BY bin ORDER BY bin"""))

  /** Quality-weighted deterministic sampling
    * ([[Sampling.weightedHashSample]]): longer docs kept at higher rate
    * (weight = min(n_chars/4000, 1)), reproducibly — the same md5 hash
    * family the oracle can replay. */
  val qWeightedSample = Q(
    "q79_weighted_sample",
    (s, dir) =>
      Sampling.weightedHashSample(
          table(s, dir, "documents"),
          "doc_id",
          least(col("n_chars").cast("double") / 4000.0, lit(1.0)))
        .select("doc_id", "n_chars")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, n_chars FROM documents
      WHERE ('0x'||substr(md5('2:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
          % 1000000000 / 1e9
        < least(CAST(n_chars AS DOUBLE) / 4000.0, 1.0)
      ORDER BY doc_id"""))

  /** Top-p (nucleus) mix selection ([[Sampling.topMassPerGroup]]): per
    * source keep the best-scoring prefix covering half the source's
    * char mass — boundary decided in exact bigint arithmetic, so the
    * kept set is engine-independent. */
  val qTopMass = Q(
    "q80_source_topmass",
    (s, dir) =>
      Sampling.topMassPerGroup(
          table(s, dir, "documents"), "source", "n_chars", "doc_id",
          num = 1, den = 2)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id"),
    Some("""WITH t AS (SELECT source, doc_id, n_chars,
          coalesce(sum(n_chars) OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_before,
          sum(n_chars) OVER (PARTITION BY source) AS total
        FROM documents)
      SELECT source, doc_id, n_chars FROM t
      WHERE cum_before * 2 < total * 1
      ORDER BY source, doc_id"""))

  /** Benford first-significant-digit distribution — the fraud/data-entry
    * anomaly screen (Deequ-class data-quality check; the reference has
    * none). Digit extracted from the shortest-round-trip DECIMAL
    * RENDERING (regexp for the first nonzero digit), NOT from
    * floor(x/10^floor(log10 x)) — libm log10 at exact powers of ten is
    * not bit-identical across engines, the rendering is. */
  val qBenford = Q(
    "q81_benford_digits",
    (s, dir) =>
      table(s, dir, "lineitem")
        .where(col("l_extendedprice") > 0)
        .select(regexp_extract(col("l_extendedprice").cast("string"),
          "[1-9]", 0).as("digit"))
        .groupBy("digit")
        .agg(
          count(lit(1)).as("n"),
          round(count(lit(1)).cast("double") /
            sum(count(lit(1))).over(
              org.apache.spark.sql.expressions.Window.partitionBy()), 8)
            .as("p"))
        .orderBy("digit"),
    Some("""WITH d AS (SELECT regexp_extract(
          CAST(l_extendedprice AS VARCHAR), '[1-9]', 0) AS digit
        FROM lineitem WHERE l_extendedprice > 0)
      SELECT digit, count(*) AS n,
        round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 8) AS p
      FROM d GROUP BY digit ORDER BY digit"""))

  /** Shannon entropy of a column's value distribution (nats) — the
    * information-content profile stat (Deequ's Entropy analyzer shape):
    * one groupBy for the counts, one tiny agg over the vocabulary. */
  val qEntropy = Q(
    "q82_value_entropy",
    (s, dir) => {
      val vc = table(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull)
        .groupBy("l_quantity").agg(count(lit(1)).as("cnt"))
      vc.agg(
        round(
          log(sum(col("cnt"))) -
            sum(col("cnt") * log(col("cnt"))) / sum(col("cnt")), 8)
          .as("entropy"),
        count(lit(1)).as("n_distinct"))
    },
    Some("""WITH vc AS (SELECT l_quantity, count(*) AS cnt FROM lineitem
        WHERE l_quantity IS NOT NULL GROUP BY l_quantity)
      SELECT round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 8)
          AS entropy,
        count(*) AS n_distinct
      FROM vc"""))

  /** Two-sample KS drift statistic ([[graft.ops.Drift.ksTwoSample]])
    * between the even- and odd-orderkey halves of lineitem — the
    * cross-slice distribution-drift screen, cumulated via the
    * range-partitioned prefix sum (no global window). The oracle
    * replays the empirical-CDF max-gap with window cumsums. */
  val qKsDrift = Q(
    "q83_ks_drift",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      graft.ops.Drift
        .ksTwoSample(
          li.where(col("l_orderkey") % 2 === 0),
          li.where(col("l_orderkey") % 2 === 1),
          "l_extendedprice")
        .select(round(col("ks_stat"), 8).as("ks_stat"),
          col("n1"), col("n2"))
    },
    Some("""WITH m AS (SELECT l_extendedprice AS v,
          count(CASE WHEN l_orderkey % 2 = 0 THEN 1 END) AS c1,
          count(CASE WHEN l_orderkey % 2 = 1 THEN 1 END) AS c2
        FROM lineitem GROUP BY 1),
      t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
          CAST(sum(c2) AS BIGINT) AS n2 FROM m),
      c AS (SELECT
          CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) AS cum1,
          CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) AS cum2
        FROM m)
      SELECT round(max(abs(cum1 / n1 - cum2 / n2)), 8) AS ks_stat, n1, n2
      FROM c CROSS JOIN t GROUP BY n1, n2"""))

  /** Dominant principal component on the EXACT gate
    * ([[graft.ops.Pca.topComponentQuantized]]): the q70 covariance
    * (10⁻⁸-quantized — the rounding that gate already pins) feeds
    * three power iterations whose every float op — left-associative
    * C·v accumulation, Σu², √, ÷, and the 10⁻⁹ re-quantization between
    * steps — the oracle spells out verbatim as chained CTEs, so the
    * eigenvector and its Rayleigh quotient are bit-identical in both
    * engines (the q221/q231 quantized-trainer contract applied to
    * spectral iteration; the full Jacobi solve stays spec-covered by
    * PcaSpec). */
  val qPcaPower: Q = {
    val d = 8
    val steps = 3
    def cvar(i: Int, j: Int) = if (i <= j) s"c_${i}_$j" else s"c_${j}_$i"
    def dot(row: Int, vname: Int => String): String =
      (0 until d).map(j => s"${cvar(row, j)} * ${vname(j)}")
        .reduceLeft((a, b) => s"($a + $b)")
    val covSelects = (for (i <- 0 until d; j <- i until d) yield
      s"round(covar_samp(embedding[${i + 1}], embedding[${j + 1}]), 8)" +
        s" AS c_${i}_$j").mkString(", ")
    val stepCtes = (1 to steps).map { k =>
      val u = (0 until d).map(i =>
        s"${dot(i, j => s"v${k - 1}_$j")} AS u${k}_$i").mkString(", ")
      val n2 = (0 until d).map(i => s"(u${k}_$i * u${k}_$i)")
        .reduceLeft((a, b) => s"($a + $b)")
      s"""u$k AS (SELECT * , $u FROM v${k - 1}),
        n$k AS (SELECT *, sqrt($n2) AS nm$k FROM u$k),
        v$k AS (SELECT *, ${(0 until d).map(i =>
          s"floor(u${k}_$i / nm$k * 1e9 + 0.5) / 1e9 AS v${k}_$i")
          .mkString(", ")} FROM n$k)"""
    }.mkString(",\n")
    val num = (0 until d).map(i => s"(v${steps}_$i * cv_$i)")
      .reduceLeft((a, b) => s"($a + $b)")
    val den = (0 until d).map(i => s"(v${steps}_$i * v${steps}_$i)")
      .reduceLeft((a, b) => s"($a + $b)")
    Q(
      "q240_pca_power",
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
          .select(slice(col("embedding"), 1, d).as("v"))
        val (cov, _, _) = graft.ops.Pca.covarianceMatrix(emb, "v", d)
        val (vec, lambda) = graft.ops.Pca.topComponentQuantized(cov, steps)
        val row = org.apache.spark.sql.Row.fromSeq(vec.toSeq :+ lambda)
        val schema = org.apache.spark.sql.types.StructType(
          (0 until d).map(i => org.apache.spark.sql.types.StructField(
            s"comp_$i", org.apache.spark.sql.types.DoubleType)) :+
            org.apache.spark.sql.types.StructField("lambda",
              org.apache.spark.sql.types.DoubleType))
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(row)), schema)
      },
      Some(s"""WITH c AS (SELECT $covSelects FROM embeddings),
        v0 AS (SELECT *, ${(0 until d).map(i => s"1.0 AS v0_$i")
          .mkString(", ")} FROM c),
        $stepCtes,
        cv AS (SELECT *, ${(0 until d).map(i =>
          s"${dot(i, j => s"v${steps}_$j")} AS cv_$i").mkString(", ")}
          FROM v$steps)
        SELECT ${(0 until d).map(i => s"v${steps}_$i AS comp_$i")
          .mkString(", ")},
          ($num) / ($den) AS lambda
        FROM cv"""))
  }

  /** Native Stata .dta scan ([[graft.sources.StataSource]], DSv2):
    * reads the committed pandas-WRITTEN v118 fixture — the reference's
    * own writer — and gates every cell against the parquet twin the
    * same generator script emitted (scripts/gen_source_fixtures.py).
    * float/double NaN→Stata-missing→SQL-null round-trips included.
    * Closes part of SURVEY §2.1's waived legacy-format row. */
  val qStataScan = Q(
    "q330_stata_scan",
    (s, _) =>
      s.read.format("graft-stata")
        .load("/root/repo/src/test/resources/graft/sources/people.dta")
        .orderBy("pid"),
    Some("""SELECT pid, age, grp, score, ratio, name
      FROM '/root/repo/src/test/resources/graft/sources/people_twin.parquet'
      ORDER BY pid"""))

  /** Native .xlsx scan ([[graft.sources.ExcelSource]], DSv2): the
    * hand-zipped SpreadsheetML fixture mixing sharedStrings, inline
    * strings, numeric cells and EMPTY cells, gated against its parquet
    * twin. All columns surface as strings (the csv-without-inferSchema
    * contract). */
  val qExcelScan = Q(
    "q331_excel_scan",
    (s, _) =>
      s.read.format("graft-excel")
        .load("/root/repo/src/test/resources/graft/sources/sample.xlsx")
        .orderBy("city"),
    Some("""SELECT city, pop, note
      FROM '/root/repo/src/test/resources/graft/sources/sample_twin.parquet'
      ORDER BY city"""))

  /** Stata SINK round-trip ([[graft.sources.StataSource]] write side):
    * lineitem (cast to the dta type lattice) → per-partition .dta part
    * files → read back through the same source → aggregate, vs the
    * oracle aggregating the parquet directly. Covers the writer's
    * type encoders, the reader's directory fan-in, and the
    * overwrite-truncate path, q47-style. */
  val qStataRoundTrip = Q(
    "q332_stata_roundtrip",
    (s, dir) => {
      val src = table(s, dir, "lineitem").select(
        col("l_orderkey").cast("int").as("ok"),
        col("l_linenumber").cast("smallint").as("ln"),
        col("l_quantity").as("qty"),
        col("l_returnflag").as("rf"))
      val path = System.getProperty("java.io.tmpdir") +
        s"/graft_dta_${Integer.toHexString(dir.hashCode)}_" +
        ProcessHandle.current.pid
      src.write.format("graft-stata").mode("overwrite").save(path)
      s.read.format("graft-stata").load(path)
        .groupBy("rf")
        .agg(count(lit(1)).as("cnt"),
          sum(col("ok").cast("long")).as("sum_ok"),
          round(sum(col("qty")), 6).as("sum_qty"),
          max(col("ln")).cast("int").as("max_ln"))
        .orderBy("rf")
    },
    Some("""SELECT l_returnflag AS rf, count(*) AS cnt,
        CAST(sum(CAST(l_orderkey AS INT)) AS BIGINT) AS sum_ok,
        round(sum(l_quantity), 6) AS sum_qty,
        CAST(max(CAST(l_linenumber AS SMALLINT)) AS INT) AS max_ln
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** Native SAS XPORT scan ([[graft.sources.XptSource]], DSv2): the
    * hand-assembled TS-140 fixture — IBM System/360 doubles (exact
    * IEEE round-trip incl. 0.1), '.'-missing codes, space-padded
    * chars — validated by pandas.read_sas itself and gated against
    * its parquet twin. With q330/q331 this closes the READABLE part
    * of the reference's legacy-format surface (sas7bdat stays waived:
    * undocumented proprietary layout). */
  val qXptScan = Q(
    "q335_xpt_scan",
    (s, _) =>
      s.read.format("graft-xpt")
        .load("/root/repo/src/test/resources/graft/sources/mixed.xpt")
        .orderBy("ID"),
    Some("""SELECT "ID", "SCORE", "CITY"
      FROM '/root/repo/src/test/resources/graft/sources/mixed_twin.parquet'
      ORDER BY "ID""""))

  /** Native sas7bdat scan ([[graft.sources.SasSource]], DSv2): the
    * hand-assembled 32-bit little-endian fixture — IEEE doubles with
    * NaN missing, blank-char missing, meta page + multiple data pages
    * — validated by pandas.read_sas itself at generation time
    * (scripts/gen_sas7bdat_fixture.py) and gated against its parquet
    * twin. Closes the LAST real-user row of the reference's
    * `read_pandas` dispatch (utils/dataframe.py:24-67) short of
    * HDF/.xls. */
  val qSasScan = Q(
    "q337_sas7bdat_scan",
    (s, _) =>
      s.read.format("graft-sas7bdat")
        .load("/root/repo/src/test/resources/graft/sources/mixed.sas7bdat")
        .orderBy("id"),
    Some("""SELECT id, score, ratio, city, tag
      FROM '/root/repo/src/test/resources/graft/sources/mixed_sas_twin.parquet'
      ORDER BY id"""))

  /** The SASYZCRL-compressed variant of q337 THROUGH an aggregation:
    * rows arrive as per-row RLE subheader blocks (plus raw blocks for
    * incompressible rows) and must decompress to the same cells the
    * twin holds — grouped so the gate certifies the decompressed
    * values, not just their order. The 64-bit mix-page layout is
    * covered cell-by-cell in SasFormatSpec. */
  val qSasRleScan = Q(
    "q338_sas7bdat_rle",
    (s, _) =>
      s.read.format("graft-sas7bdat")
        .load(
          "/root/repo/src/test/resources/graft/sources/mixed_rle.sas7bdat")
        .groupBy("city")
        .agg(count(lit(1)).as("n"),
          round(sum("score"), 6).as("sum_score"),
          round(sum("ratio"), 6).as("sum_ratio"),
          count(col("tag")).as("n_tag"))
        .orderBy("city"),
    Some("""SELECT city, count(*) AS n,
        round(sum(score), 6) AS sum_score,
        round(sum(ratio), 6) AS sum_ratio,
        count(tag) AS n_tag
      FROM '/root/repo/src/test/resources/graft/sources/mixed_sas_twin.parquet'
      GROUP BY city ORDER BY city"""))

  /** SAS calendar semantics through the sas7bdat reader: columns whose
    * display format is a DATE/DATETIME family name surface as Spark
    * DATE (days since the SAS 1960-01-01 epoch rebased) and TIMESTAMP
    * (seconds since 1960 rebased to micros) instead of raw doubles —
    * what pandas.read_sas does, and the fixture is validated against
    * pandas' own conversion at generation time. */
  val qSasDates = Q(
    "q339_sas7bdat_dates",
    (s, _) =>
      s.read.format("graft-sas7bdat")
        .load("/root/repo/src/test/resources/graft/sources/dates.sas7bdat")
        .select(col("k"), col("event_date"), col("when_ts"),
          year(col("event_date")).as("yr"),
          unix_micros(col("when_ts")).as("us"))
        .orderBy("k"),
    Some("""SELECT k, event_date, when_ts,
        CAST(year(event_date) AS INT) AS yr,
        CAST(epoch_us(when_ts) AS BIGINT) AS us
      FROM '/root/repo/src/test/resources/graft/sources/dates_sas_twin.parquet'
      ORDER BY k"""))

  /** PIXEL-level image fingerprinting ([[graft.ops.Multimodal
    * .imageDHash]]): decode the committed 24-bpp BMPs (binaryFile
    * scan), integer grayscale, nearest-neighbor 9×8 resize, 64-bit
    * difference hash — gated against hashes computed INDEPENDENTLY
    * from the same pixels by scripts/gen_image_fixture.py (no shared
    * code), so a wrong row order, BGR mixup, padding slip or sampling
    * offset breaks the hash compare. The multimodal
    * decode→feature-extract→resize path, made real and oracle-checked. */
  val qImageDHash = Q(
    "q340_image_dhash",
    (s, _) => {
      val imgs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.(?:bmp|png)", 1)
          .cast("long").as("img_id"), col("content"))
      graft.ops.Multimodal.imageDHash(imgs, "img_id", "content").toDF()
        .select(col("id").as("img_id"), col("width"), col("height"),
          col("dhash"))
        .orderBy("img_id")
    },
    Some("""SELECT img_id, width, height, dhash
      FROM '/root/repo/src/test/resources/graft/sources/images_twin.parquet'
      ORDER BY img_id"""))

  /** Image near-dup pairs by dHash hamming ≤ 3 ([[graft.ops.Multimodal
    * .dhashNearDupPairs]]): four 16-bit bands pigeonhole the 64-bit
    * hash (any pair within hamming 3 agrees on ≥ 1 band), candidates
    * come from band-equality self-joins, one xor/bit_count verifies.
    * The oracle recomputes ALL C(60,2) pairs from the twin hashes in
    * DuckDB — certifying the banding's RECALL (nothing ≤ 3 missed) as
    * well as precision on the 10 planted near-dup pairs. */
  val qImageNearDup = Q(
    "q341_image_neardup",
    (s, _) => {
      val imgs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.(?:bmp|png)", 1)
          .cast("long").as("img_id"), col("content"))
      val h = graft.ops.Multimodal.imageDHash(imgs, "img_id", "content")
      graft.ops.Multimodal.dhashNearDupPairs(h.toDF(), "id", "dhash", 3,
        Int.MaxValue)
        .orderBy("i", "j")
    },
    Some("""SELECT a.img_id AS i, b.img_id AS j,
        CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
      FROM '/root/repo/src/test/resources/graft/sources/images_twin.parquet' a
      JOIN '/root/repo/src/test/resources/graft/sources/images_twin.parquet' b
        ON a.img_id < b.img_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
      ORDER BY i, j"""))

  /** Image dedup end-to-end: components over the q341 hamming-≤3 edge
    * set label every image with its visual-duplicate cluster; the
    * canonical keep is the minimum id per cluster — composition of
    * [[graft.ops.Multimodal.dhashNearDupPairs]] with the same
    * [[graft.ops.ConnectedComponents]] the text near-dup families use.
    * Oracle closes the identical edge set with a recursive CTE (the
    * q185 pattern) over the twin hashes. */
  val qImageDedupClusters = Q(
    "q342_image_dedup_clusters",
    (s, _) => {
      val imgs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.(?:bmp|png)", 1)
          .cast("long").as("img_id"), col("content"))
      val h = graft.ops.Multimodal.imageDHash(imgs, "img_id", "content")
        .toDF().localCheckpoint(false) // two consumers: ids + pairs
      val pairs = graft.ops.Multimodal
        .dhashNearDupPairs(h, "id", "dhash", 3, Int.MaxValue)
      graft.ops.ConnectedComponents.labelAll(
          h.select(col("id").as("img_id")), "img_id",
          pairs, "i", "j", outCol = "cluster")
        .groupBy("cluster")
        .agg(count(lit(1)).cast("long").as("n_members"),
          min(col("img_id")).as("keep_id"))
        .orderBy("cluster")
    },
    Some("""WITH RECURSIVE t AS (SELECT img_id, dhash
        FROM '/root/repo/src/test/resources/graft/sources/images_twin.parquet'),
      p AS (SELECT a.img_id AS i, b.img_id AS j FROM t a JOIN t b
            ON a.img_id < b.img_id
            WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
      edges AS (SELECT i AS a, b FROM (SELECT i, j AS b FROM p
                UNION SELECT j, i FROM p) s(i, b)),
      reach(n, m) AS (
        SELECT img_id, img_id FROM t
        UNION
        SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m),
      lab AS (SELECT n AS img_id, min(m) AS cluster
              FROM reach GROUP BY n)
      SELECT cluster, count(*) AS n_members,
        min(img_id) AS keep_id
      FROM lab GROUP BY cluster ORDER BY cluster"""))

  /** SAMPLE-level audio quality screen ([[graft.ops.Multimodal
    * .audioPcmStats]]): PCM WAV waveforms decoded (16-bit signed and
    * 8-bit unsigned, mono and stereo) and the speech-curation signals
    * — duration, RMS loudness, peak, clipping fraction (samples at
    * the representable rails), dead-air fraction — computed from the
    * samples. Gated against stats computed INDEPENDENTLY by the
    * generator (python stdlib `wave` writes the fixtures; no shared
    * code) with sequential-sum parity, so decode AND math are
    * certified. Planted truths: an overdriven clamped sine really
    * clips, a half-silent take reads ≥ 0.5 dead air. */
  val qAudioStats = Q(
    "q343_audio_pcm_stats",
    (s, _) => {
      val clips = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/audio")
        .select(regexp_extract(col("path"), "clip_(\\d+)\\.wav", 1)
          .cast("long").as("audio_id"), col("content"))
      graft.ops.Multimodal.audioPcmStats(clips, "audio_id", "content")
        .toDF()
        .select(col("id").as("audio_id"), col("sample_rate"),
          col("channels"), col("bits"), col("n_samples"),
          col("duration_s"), col("rms"), col("peak"), col("clip_frac"),
          col("silence_frac"))
        .orderBy("audio_id")
    },
    Some("""SELECT audio_id, sample_rate, channels, bits, n_samples,
        duration_s, rms, peak, clip_frac, silence_frac
      FROM '/root/repo/src/test/resources/graft/sources/audio_twin.parquet'
      ORDER BY audio_id"""))

  /** Audio channel-health screen ([[graft.ops.Multimodal
    * .audioPcmStats]] round-12 columns): zero-crossing rate (the
    * classic voiced/unvoiced + noise-vs-tone signal) and per-channel
    * RMS extremes with their imbalance ratio — the DEAD-MIC detector
    * (one silent channel of a stereo interview reads imbalance 1.0).
    * Same independent-generator gate as q343: python stdlib `wave`
    * writes the fixtures and computes the same spec (frame-sequential
    * per-channel sums, sign-flip counting between consecutive frames),
    * sharing no code with the Scala decoder. Planted truths: clip 18
    * has an all-zero left channel (imbalance exactly 1.0, rms_ch_min
    * 0.0), clip 19 is a mildly-imbalanced healthy 8-bit stereo, mono
    * clips read imbalance 0. */
  val qAudioChannelStats = Q(
    "q345_audio_channel_stats",
    (s, _) => {
      val clips = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/audio")
        .select(regexp_extract(col("path"), "clip_(\\d+)\\.wav", 1)
          .cast("long").as("audio_id"), col("content"))
      graft.ops.Multimodal.audioPcmStats(clips, "audio_id", "content")
        .toDF()
        .select(col("id").as("audio_id"), col("channels"), col("zcr"),
          col("rms_ch_min"), col("rms_ch_max"), col("ch_imbalance"))
        .orderBy("audio_id")
    },
    Some("""SELECT audio_id, channels, zcr, rms_ch_min, rms_ch_max,
        ch_imbalance
      FROM '/root/repo/src/test/resources/graft/sources/audio_twin.parquet'
      ORDER BY audio_id"""))

  /** GIF pixel decode on the gate ([[graft.ops.MediaCodec
    * .decodeGifGray]]): a hand-rolled GIF89a first-frame decoder —
    * palette, extension-block walk, variable-width LSB-first LZW
    * (clear/EOI, KwKwK, 4096-entry dictionary), 4-pass de-interlace —
    * feeding the same luma→dHash pipeline. The committed GIFs are
    * LOSSLESS re-encodes of fixture-image lumas (a ≤256-value raster
    * fits a GIF palette exactly; scripts/GenGifFixture.java encodes
    * with the JDK's writer — which emits INTERLACED streams, so the
    * fixtures certify the de-interlace path — and asserts pixel-exact
    * round trip via the JDK's independent reader at generation). The
    * gate is therefore EXACT: decoded dims and dHash must equal the
    * independent python twin's values, bit for bit, and the oracle
    * derives the id set from the committed files so a dropped decode
    * is a row-count FAIL. */
  val qGifDHash = Q(
    "q348_gif_dhash",
    (s, _) => {
      val gp = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images_gif")
        .select(
          (regexp_extract(col("path"), "img_(\\d+)\\.gif", 1)
            .cast("long") - 400).as("img_id"), col("content"))
      graft.ops.Multimodal.imageDHash(gp, "img_id", "content").toDF()
        .select(col("id").as("img_id"), col("width"), col("height"),
          col("dhash"))
        .orderBy("img_id")
    },
    Some("""WITH j AS (SELECT
        CAST(regexp_extract(file, 'img_(\d+)\.gif', 1) AS BIGINT) - 400
          AS img_id
      FROM glob('/root/repo/src/test/resources/graft/sources/images_gif/*.gif'))
      SELECT t.img_id, t.width, t.height, t.dhash
      FROM '/root/repo/src/test/resources/graft/sources/images_twin.parquet' t
      JOIN j USING (img_id)
      ORDER BY img_id"""))

  /** STREAMING image dedup on the gate ([[graft.streaming
    * .StreamingImageDedup.firstSeenByDHash]]): the 90 fixture images
    * arrive as TWO micro-batches — every BMP first, every PNG second —
    * so the cross-batch state path is what's exercised: each planted
    * PNG twin (ids 100..109, pixel-identical to BMPs 0..9) must be
    * marked a duplicate of a canonical it never co-batched with. The
    * batch/streaming symmetry of the multimodal pillar: same decode
    * seam, same hash, state = one long per distinct perceptual hash.
    * Oracle: first-seen = global min img_id per twin dhash (batches
    * are split by id, so arrival order and id order agree). */
  val qStreamingImageDedup = Q(
    "q346_streaming_image_dedup",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val imgs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.(?:bmp|png)", 1)
          .cast("long").as("img_id"), col("content"))
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, Array[Byte])]
      val src = mem.toDF.toDF("img_id", "content")
      val seen = graft.streaming.StreamingImageDedup
        .firstSeenByDHash(src, "img_id", "content")
      val sink = "graft_simg_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-simg-gate").toString
      val query = seen.toDF.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(imgs.filter(_._1 < 80).toIndexedSeq)
        query.processAllAvailable()
        mem.addData(imgs.filter(_._1 >= 80).toIndexedSeq)
        query.processAllAvailable()
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .select(col("id").as("img_id"), col("dhash"), col("keep"),
          col("canonical_id"))
        .orderBy("img_id")
    },
    Some("""SELECT img_id, dhash,
        img_id = min(img_id) OVER (PARTITION BY dhash) AS keep,
        min(img_id) OVER (PARTITION BY dhash) AS canonical_id
      FROM '/root/repo/src/test/resources/graft/sources/images_twin.parquet'
      ORDER BY img_id"""))

  /** FREQUENCY-domain audio screen on the gate ([[graft.ops.Multimodal
    * .audioSpectralStats]] over [[graft.ops.Dsp]]): Hann window +
    * radix-2 FFT with PORTABLE spec'd-Taylor trig, so every double is
    * bit-identical to the independent python replay
    * (scripts/gen_audio_spectral.py, which re-reads the committed WAVs
    * with stdlib `wave`) and the gate is EXACT — no tolerance. Planted
    * truths certified at generation: the 440 Hz sine reads dominant
    * bin 56 (437.5 Hz) with crest ≈ 300, LCG noise reads crest ≈ 6
    * with 14× the spread, the silent-first-1024-frames clip and the
    * dead-left-channel stereo read all-zero rows. */
  val qAudioSpectral = Q(
    "q349_audio_spectral",
    (s, _) => {
      val clips = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/audio")
        .select(regexp_extract(col("path"), "clip_(\\d+)\\.wav", 1)
          .cast("long").as("audio_id"), col("content"))
      graft.ops.Multimodal.audioSpectralStats(clips, "audio_id", "content")
        .toDF()
        .select(col("id").as("audio_id"), col("frames_used"),
          col("spectral_centroid"), col("spectral_spread"),
          col("spectral_rolloff"), col("dominant_freq"),
          col("spectral_crest"))
        .orderBy("audio_id")
    },
    Some("""SELECT audio_id, frames_used, spectral_centroid,
        spectral_spread, spectral_rolloff, dominant_freq, spectral_crest
      FROM '/root/repo/src/test/resources/graft/sources/audio_spectral_twin.parquet'
      ORDER BY audio_id"""))

  /** VIDEO frame sampling on the gate ([[graft.ops.Multimodal
    * .videoFrameDHash]]): MJPEG AVI RIFF walk (one fixture nests its
    * frames in a 'rec ' grouping LIST, exercising the lenient path) →
    * every SECOND frame decoded through the q344-certified JPEG seam →
    * the same luma dHash the image pipeline uses. The fixture AVIs are
    * written by scripts/gen_avi_fixture.py (stdlib struct, no shared
    * code) with committed JPEG fixtures as frames, and the mapping
    * twin records which image landed at which (video, frame) — so the
    * gate demands each sampled frame's hash lands within hamming ≤ 3
    * of the INDEPENDENT pre-encoding twin hash of its source image,
    * with exact dims, and the stride-2 sampling itself is gated by the
    * oracle's frame_idx %% 2 filter (an off-by-one in sampling is a
    * row-set mismatch). */
  val qVideoFrames = Q(
    "q350_video_frame_dhash",
    (s, _) => {
      val vids = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/videos")
        .select(regexp_extract(col("path"), "vid_(\\d+)\\.avi", 1)
          .cast("long").as("video_id"), col("content"))
      val fh = graft.ops.Multimodal
        .videoFrameDHash(vids, "video_id", "content", stride = 2).toDF()
        .select(col("id").as("video_id"), col("frame_idx"),
          col("width"), col("height"), col("dhash").as("fhash"))
      val map = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/video_frames_twin.parquet")
      val twin = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/images_twin.parquet")
        .select((col("img_id") + 200).as("img_id"),
          col("dhash").as("thash"))
      fh.join(map, Seq("video_id", "frame_idx"))
        .join(twin, "img_id")
        .select(col("video_id"), col("frame_idx"), col("width"),
          col("height"),
          (bit_count(col("fhash").bitwiseXOR(col("thash"))) <= 3)
            .as("within3"))
        .orderBy("video_id", "frame_idx")
    },
    Some("""SELECT m.video_id, m.frame_idx, t.width, t.height,
        true AS within3
      FROM '/root/repo/src/test/resources/graft/sources/video_frames_twin.parquet' m
      JOIN '/root/repo/src/test/resources/graft/sources/images_twin.parquet' t
        ON t.img_id = m.img_id - 200
      WHERE m.frame_idx % 2 = 0
      ORDER BY 1, 2"""))

  /** HTML → text extraction on the gate ([[graft.ops.HtmlExtract]]):
    * the first step of every web corpus pipeline, as a single-pass
    * state machine (not regex). The committed fixtures plant the
    * branches that poison corpora when a stripper gets them wrong —
    * `>` inside quoted attributes, `<div>` inside script bodies,
    * comments containing tags, one-pass entity decoding (`&amp;lt;`
    * stays `&lt;`), numeric/hex entities, nbsp, CAPS tags, bare `<`
    * as text, unterminated script — and the twin is computed by an
    * INDEPENDENT python implementation of the same documented spec
    * (scripts/gen_html_fixture.py, planted truths asserted at
    * generation). Gates text, link count and text density. */
  val qHtmlExtract = Q(
    "q351_html_extract",
    (s, _) => {
      val docs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/html")
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.html", 1)
          .cast("long").as("doc_id"),
          col("content").cast("string").as("html"))
      graft.ops.HtmlExtract.htmlToText(docs, "doc_id", "html").toDF()
        .select(col("id").as("doc_id"), col("text"), col("n_links"),
          col("text_density"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, text, n_links, text_density
      FROM '/root/repo/src/test/resources/graft/sources/html_twin.parquet'
      ORDER BY doc_id"""))

  /** Charset detection on the gate ([[graft.ops.EncodingDetect]]):
    * BOM sniff (UTF-32/16 LE/BE, UTF-8) → ascii → strict RFC 3629
    * UTF-8 validation → latin-1 fallback. The twin's utf-8 verdicts
    * come from CPython's OWN strict decoder at generation
    * (scripts/gen_encoding_fixture.py) — an independent reference
    * validator — with planted overlongs (C0 AF, C0 80, E0 9F BF,
    * F0 8F BF BF), a surrogate (ED A0 80), out-of-range leads
    * (F5, F4 90), a truncated tail, a lone continuation byte, and the
    * exact U+10FFFF maximum (valid). Mislabeling ANY of them — the
    * classic hand-rolled-validator bugs — is a hash FAIL. */
  val qEncodingDetect = Q(
    "q352_encoding_detect",
    (s, _) => {
      val blobs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/encodings")
        .select(regexp_extract(col("path"), "enc_(\\d+)\\.bin", 1)
          .cast("long").as("enc_id"), col("content"))
      graft.ops.EncodingDetect.detectEncoding(blobs, "enc_id", "content")
        .toDF()
        .select(col("id").as("enc_id"), col("encoding"), col("n_bytes"),
          col("n_non_ascii"))
        .orderBy("enc_id")
    },
    Some("""SELECT enc_id, encoding, n_bytes, n_non_ascii
      FROM '/root/repo/src/test/resources/graft/sources/encodings_twin.parquet'
      ORDER BY enc_id"""))

  /** HTML extraction at CORPUS scale: q351 certifies the state
    * machine's branches on the planted fixture, but a fixture-bound
    * row cannot grow with the stress dir — so this row synthesizes
    * markup from every `documents.text` (entity-escaped, & first,
    * then wrapped in p/ul/li/a tags), runs the REAL extractor, and
    * gates md5(text) + n_links per document against a DuckDB replay:
    * escape→decode round-trips to the original text exactly (one-pass
    * decoding), so the oracle only has to replicate the documented
    * whitespace spec (per-line collapse/trim, empty-drop, block-tag
    * line structure) — expressible in SQL. The stress table's
    * string-pipeline row (map-only; scales with the corpus). */
  val qHtmlScale = Q(
    "q353_html_scale",
    (s, dir) => {
      def esc(c: org.apache.spark.sql.Column) =
        regexp_replace(regexp_replace(regexp_replace(
          c, lit("&"), lit("&amp;")),
          lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      // source is escaped like text: a stress corpus whose source
      // values carry markup chars must round-trip through the decoder
      // identically on both sides of the gate (ADVICE r12)
      val docs = table(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("<p>"), esc(col("text")),
            lit("</p><ul><li><a href=\"#\">"),
            esc(col("source")), lit("</a></li></ul>")).as("html"))
      graft.ops.HtmlExtract.htmlToText(docs, "doc_id", "html").toDF()
        .select(col("id").as("doc_id"), md5(col("text")).as("text_md5"),
          col("n_links"))
        .orderBy("doc_id")
    },
    Some("""WITH cl AS (SELECT doc_id,
        array_to_string(list_filter(list_transform(
          string_split(text, chr(10)),
          x -> trim(regexp_replace(x, '[ \t\r\x0B\x0C]+', ' ', 'g'))),
          y -> y <> ''), chr(10)) AS ct,
        trim(regexp_replace(source, '[ \t\r\x0B\x0C]+', ' ', 'g')) AS cs
      FROM documents)
      SELECT doc_id,
        md5(CASE WHEN ct = '' THEN cs
                 WHEN cs = '' THEN ct
                 ELSE ct || chr(10) || cs END) AS text_md5,
        CAST(1 AS INT) AS n_links
      FROM cl ORDER BY doc_id"""))

  /** PDF → text extraction on the gate ([[graft.ops.PdfExtract]]):
    * the dominant document format of any large corpus, as an honest
    * subset parser — stream-object walk, bounded FlateDecode, BT/ET
    * text blocks, Tj / TJ-array / ' operators, literal strings with
    * octal + nested-paren escapes, hex strings with embedded
    * whitespace, multi-page structure. The fixtures are CONSTRUCTED
    * by scripts/gen_pdf_fixture.py from known line lists (stdlib
    * struct/zlib, no shared code, never parses its own output) and
    * the twin is those lines verbatim — a parser bug on any planted
    * feature breaks the match. */
  val qPdfExtract = Q(
    "q354_pdf_extract",
    (s, _) => {
      val docs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/pdfs")
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.pdf", 1)
          .cast("long").as("doc_id"), col("content"))
      graft.ops.PdfExtract.pdfToText(docs, "doc_id", "content").toDF()
        .select(col("id").as("doc_id"), col("text"), col("n_pages"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, text, n_pages
      FROM '/root/repo/src/test/resources/graft/sources/pdf_twin.parquet'
      ORDER BY doc_id"""))

  /** WARC record enumeration on the gate ([[graft.ops.Warc.records]]):
    * the container format of the web corpora that feed LLM pipelines
    * (Common Crawl). Two committed archives hold IDENTICAL records —
    * one plain .warc, one .warc.gz with each record gzipped as its own
    * CONCATENATED member (the Common Crawl layout, exercising the JDK
    * multi-member inflate) — so a gz-path bug shows as the two
    * archives disagreeing. Gates record type, target URI, HTTP status,
    * parameter-stripped content type and HTTP body length for all 9
    * records × 2 archives, from twins written by the stdlib-only
    * generator. */
  val qWarcRecords = Q(
    "q355_warc_records",
    (s, _) => {
      val arcs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/warc")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
      graft.ops.Warc.records(arcs, "arc_id", "content").toDF()
        .select(col("id").as("arc_id"), col("rec_idx"), col("rec_type"),
          col("url"), col("http_status"), col("content_type"),
          col("body_len"))
        .orderBy("arc_id", "rec_idx")
    },
    Some("""SELECT arc_id, rec_idx, rec_type, url, http_status,
        content_type, body_len
      FROM '/root/repo/src/test/resources/graft/sources/warc_records_twin.parquet'
      ORDER BY arc_id, rec_idx"""))

  /** The composed web-ingestion front end on the gate ([[graft.ops
    * .Warc.htmlPages]]): WARC(.gz) → 200-status text/html response
    * bodies → the q351-certified HTML state machine → one text row
    * per page — what a Common Crawl ingestion stage actually does, as
    * one map-only operator. The twin composes the SAME independent
    * python spec implementations (WARC writer + html extractor) over
    * the same payloads; the 404 and the non-HTML 200 are planted to
    * prove the filter. */
  val qWarcPages = Q(
    "q356_warc_html_pages",
    (s, _) => {
      val arcs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/warc")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
      graft.ops.Warc.htmlPages(arcs, "arc_id", "content").toDF()
        .select(col("id").as("arc_id"), col("rec_idx"), col("url"),
          col("text"), col("n_links"))
        .orderBy("arc_id", "rec_idx")
    },
    Some("""SELECT arc_id, rec_idx, url, text, n_links
      FROM '/root/repo/src/test/resources/graft/sources/warc_pages_twin.parquet'
      ORDER BY arc_id, rec_idx"""))

  /** DOCX → text extraction on the gate ([[graft.ops.DocxExtract]]):
    * ZIP walk (JDK) to word/document.xml, SAX handler (DTDs and
    * external entities disabled) mapping w:t text, w:tab, w:br/w:cr
    * and paragraph ends to the HtmlExtract line convention. Fixtures
    * CONSTRUCTED by scripts/gen_docx_fixture.py (stdlib zipfile +
    * hand-written WordprocessingML) from known paragraph lists; twin
    * is those lines verbatim. Planted: multi-run lines with
    * xml:space-preserved spacing, entities, tabs, soft breaks, table
    * cells, styling that must contribute nothing, empty paragraphs
    * that count but don't print. */
  val qDocxExtract = Q(
    "q357_docx_extract",
    (s, _) => {
      val docs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/docx")
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.docx", 1)
          .cast("long").as("doc_id"), col("content"))
      graft.ops.DocxExtract.docxToText(docs, "doc_id", "content").toDF()
        .select(col("id").as("doc_id"), col("text"),
          col("n_paragraphs"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, text, n_paragraphs
      FROM '/root/repo/src/test/resources/graft/sources/docx_twin.parquet'
      ORDER BY doc_id"""))

  /** Code-corpus curation metrics on the gate ([[graft.ops
    * .CodeMetrics]]): extension language ID, SPDX + phrase-heuristic
    * license detection, comment fraction with a block-comment state
    * machine (code after a block close on the same line, scaladoc,
    * inline /* */ planted), blank/alpha fractions, line shape, and
    * the DO-NOT-EDIT autogen flag — the columns a the-Stack-style
    * code pipeline filters on. Twin computed by an INDEPENDENT python
    * implementation of the same documented spec over the committed
    * files (file_id keys come from the twin: fixture metadata, not
    * expected values). */
  val qCodeMetrics = Q(
    "q358_code_metrics",
    (s, _) => {
      val files = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/code")
        .select(regexp_extract(col("path"), "([^/]+)$", 1)
          .as("filename"), col("content").cast("string").as("text"))
      val keys = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/code_twin.parquet").select("file_id", "filename")
      val keyed = files.join(broadcast(keys), "filename")
      graft.ops.CodeMetrics
        .codeMetrics(keyed, "file_id", "filename", "text").toDF()
        .select(col("id").as("file_id"), col("lang"), col("n_lines"),
          col("max_line_len"), col("blank_frac"), col("comment_frac"),
          col("alpha_frac"), col("license"), col("autogen"))
        .orderBy("file_id")
    },
    Some("""SELECT file_id, lang, n_lines, max_line_len, blank_frac,
        comment_frac, alpha_frac, license, autogen
      FROM '/root/repo/src/test/resources/graft/sources/code_twin.parquet'
      ORDER BY file_id"""))

  /** STREAMING code-corpus screen (the verdict r12 #6 companion to
    * q363): [[graft.ops.CodeMetrics.codeMetrics]] is map-only, so it
    * runs UNCHANGED inside a Structured Streaming micro-batch — the
    * shape of a live code-crawl curation front door (files arrive in
    * batches; language/license/comment-shape columns come out per
    * batch with no state). Two-batch MemoryStream drive over the
    * committed q358 fixtures; the streamed union must equal the batch
    * replay exactly (same independent-twin oracle as q358). */
  val qStreamingCodeMetrics = Q(
    "q368_streaming_code_metrics",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val keys = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/code_twin.parquet").select("file_id", "filename")
      val files = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/code")
        .select(regexp_extract(col("path"), "([^/]+)$", 1)
          .as("filename"), col("content").cast("string").as("text"))
        .join(broadcast(keys), "filename")
        .select(col("file_id").cast("long"), col("filename"),
          col("text"))
        .as[(Long, String, String)].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, String, String)]
      val src = mem.toDF.toDF("file_id", "filename", "text")
      val metrics = graft.ops.CodeMetrics
        .codeMetrics(src, "file_id", "filename", "text").toDF()
      val sink = "graft_scm_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-scm-gate").toString
      val query = metrics.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val half = (files.length + 1) / 2
        files.grouped(math.max(1, half)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .select(col("id").as("file_id"), col("lang"), col("n_lines"),
          col("max_line_len"), col("blank_frac"), col("comment_frac"),
          col("alpha_frac"), col("license"), col("autogen"))
        .orderBy("file_id")
    },
    Some("""SELECT file_id, lang, n_lines, max_line_len, blank_frac,
        comment_frac, alpha_frac, license, autogen
      FROM '/root/repo/src/test/resources/graft/sources/code_twin.parquet'
      ORDER BY file_id"""))

  /** Native Avro scan on the gate ([[graft.sources.AvroSource]] —
    * hand-parsed object container file per the public Avro 1.12 spec;
    * this distribution ships avro-the-library but NOT the spark-avro
    * connector). Two committed files: multi-block null-codec (sync
    * markers verified per block) and raw-DEFLATE codec, covering all
    * seven primitive types + a ["null", long] union column with
    * planted nulls + multibyte utf-8 strings. Fixtures written by
    * avro-java (scripts/GenAvroFixture.java, the reference encoder);
    * twin from the same row FORMULA independently in pyarrow — the
    * reader shares code with neither. */
  val qAvroScan = Q(
    "q369_avro_scan",
    (s, _) => {
      s.read.format("graft-avro")
        .load("/root/repo/src/test/resources/graft/sources/avro")
        .withColumn("payload_hex", hex(col("payload")))
        .drop("payload")
        .orderBy("id")
    },
    // The raw `payload` bytes column is projected as uppercase hex on
    // BOTH sides: the driver harness row-sorts through pandas, which
    // cannot hash a bytearray cell (r13's only red row). Byte-level
    // exactness of the binary column itself stays pinned in
    // AvroSourceSpec (read back through avro-java).
    Some("""SELECT id, rank, name, value, ratio, flag, opt_qty,
        hex(payload) AS payload_hex
      FROM '/root/repo/src/test/resources/graft/sources/avro_twin.parquet'
      ORDER BY id"""))

  /** Avro SINK round-trip ([[graft.sources.AvroSource]] write side):
    * documents (+ a planted nullable column) → per-partition deflate
    * .avro part files → read back through the same source →
    * aggregate, vs the oracle aggregating the parquet directly
    * (q332's shape). The writer's FRAMING is additionally certified
    * by the reference decoder: AvroSourceSpec reads our output back
    * through avro-java's DataFileReader, so the round trip is not
    * self-referential. */
  val qAvroRoundTrip = Q(
    "q370_avro_roundtrip",
    (s, dir) => {
      val src = table(s, dir, "documents").select(
        col("doc_id"), col("source"), col("text"),
        length(col("text")).as("n_chars"),
        when(col("doc_id") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("doc_id") * 0.5).as("opt_score"))
      val path = System.getProperty("java.io.tmpdir") +
        s"/graft_avro_${Integer.toHexString(dir.hashCode)}_" +
        ProcessHandle.current.pid
      src.write.format("graft-avro").mode("overwrite").save(path)
      s.read.format("graft-avro").load(path)
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("opt_score").isNull, 1L).otherwise(0L))
            .as("n_null"),
          round(sum(col("opt_score")), 6).as("sum_score"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS cnt,
        CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_null,
        round(sum(CASE WHEN doc_id % 5 <> 0
            THEN CAST(doc_id AS DOUBLE) * 0.5e0 END), 6)
          AS sum_score
      FROM documents GROUP BY source ORDER BY source"""))

  /** robots.txt crawl permissions on the gate ([[graft.ops.Robots]],
    * RFC 9309): the admission filter a compliant ingestion pipeline
    * applies BEFORE keeping a crawled page — completing the web
    * pillar's front door (q371 decides what MAY be kept; q355/q356/
    * q363 process what was). Planted: mid-pattern `*`, `$` anchors,
    * longest-match precedence, the equal-length tie (allow wins),
    * empty disallow, multi-agent groups, duplicate-group combining,
    * case-insensitivity, a host with no robots.txt. Twin: an
    * independent python RFC implementation, with CPython's own
    * urllib.robotparser as a third validator on the probes where the
    * 1994 first-match REP provably agrees. */
  val qRobotsFilter = Q(
    "q371_robots_filter",
    (s, _) => {
      val base = "/root/repo/src/test/resources/graft/sources"
      val robots = s.read.format("binaryFile").load(s"$base/robots")
        .select(regexp_extract(col("path"), "([^/]+)\\.txt$", 1)
          .as("host"), col("content").cast("string").as("txt"))
      val probes = s.read.parquet(s"$base/robots_twin.parquet")
        .select("host", "agent", "path")
      graft.ops.Robots.crawlFilter(probes, "host", "agent", "path",
          robots, "host", "txt")
        .orderBy("host", "agent", "path")
    },
    Some("""SELECT host, agent, path, allowed
      FROM '/root/repo/src/test/resources/graft/sources/robots_twin.parquet'
      ORDER BY host, agent, path"""))

  /** Byte-level BPE encoding on the gate ([[graft.ops.ByteBpe]] — the
    * GPT-2 tokenizer pipeline: documented pretokenizer scanner,
    * published bytes-to-unicode table, ranked merge application).
    * Token counts under the REAL tokenizer family are what LLM data
    * budgeting runs on; q30's whitespace/regex counts approximate
    * them. The merge table is INPUT (committed bpe_merges.txt, read
    * by both sides); expected tokenizations come from an independent
    * python implementation of the same published algorithm. Planted:
    * contraction splits + re-fuses, rank-order cascade interplay,
    * multibyte UTF-8 fusing through é, digit merges, whitespace-run
    * lookahead (run minus last char), empty text, raw high bytes. */
  val qByteBpe = Q(
    "q372_bytelevel_bpe",
    (s, _) => {
      val base = "/root/repo/src/test/resources/graft/sources"
      val merges = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(s"$base/bpe_merges.txt"),
          java.nio.charset.StandardCharsets.UTF_8)
        .toArray(Array.empty[String]).toSeq
        .filter(_.nonEmpty)
        .map { l =>
          val sp = l.indexOf(' ')
          (l.substring(0, sp), l.substring(sp + 1))
        }
      val texts = s.read.parquet(s"$base/bpe_texts.parquet")
      graft.ops.ByteBpe.encode(texts, "id", "text", merges)
        .orderBy("id")
    },
    Some("""SELECT id, n_tokens, tokens
      FROM '/root/repo/src/test/resources/graft/sources/bpe_twin.parquet'
      ORDER BY id"""))

  /** .warc.zst container support on the gate (the IIPC zstd WARC
    * layout; newer crawl tooling ships it next to .warc.gz). Two
    * archives hold the IDENTICAL records of q355's arc_000 — one
    * whole-archive frame, one frame PER RECORD concatenated
    * (continuous-mode multi-frame decode) — compressed by the SYSTEM
    * zstd binary, an encoder independent of the zstd-jni decoder
    * under test; a zstd-path bug shows as the archives disagreeing
    * (the q355 dual-archive discipline). */
  val qWarcZstd = Q(
    "q373_warc_zstd",
    (s, _) => {
      val arcs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/warc_zst")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
      graft.ops.Warc.records(arcs, "arc_id", "content").toDF()
        .select(col("id").as("arc_id"), col("rec_idx"), col("rec_type"),
          col("url"), col("http_status"), col("content_type"),
          col("body_len"))
        .orderBy("arc_id", "rec_idx")
    },
    Some("""SELECT arc_id, rec_idx, rec_type, url, http_status,
        content_type, body_len
      FROM '/root/repo/src/test/resources/graft/sources/warc_zst_twin.parquet'
      ORDER BY arc_id, rec_idx"""))

  /** Byte-level BPE at CORPUS scale (the q372 operator over every
    * `documents.text`, so the tokenizer path gets a 10× stress row).
    * The oracle cannot re-run BPE in SQL — instead the gate pins the
    * algorithm's CONSERVATION LAW: pretokenization partitions the
    * text and byte-to-unicode maps bytes 1:1 to symbols, so the total
    * SYMBOL length across a document's tokens equals its UTF-8 octet
    * length exactly. A dropped/duplicated token, a lost pretoken, or
    * a merge that eats a symbol breaks per-source equality; q372
    * certifies the token IDENTITIES on the fixture corpus. */
  val qByteBpeScale = Q(
    "q374_bpe_scale",
    (s, dir) => {
      val base = "/root/repo/src/test/resources/graft/sources"
      val merges = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(s"$base/bpe_merges.txt"),
          java.nio.charset.StandardCharsets.UTF_8)
        .toArray(Array.empty[String]).toSeq
        .filter(_.nonEmpty)
        .map { l =>
          val sp = l.indexOf(' ')
          (l.substring(0, sp), l.substring(sp + 1))
        }
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      // tokens are space-JOINED and the byte-unicode alphabet holds
      // no real space, so symbols = length - (n_tokens - 1); an empty
      // text has zero tokens AND zero symbols
      val enc = graft.ops.ByteBpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          when(col("n_tokens") === 0, lit(0))
            .otherwise(length(col("tokens")) - col("n_tokens") + 1)
            .as("n_symbols"))
      docs.join(enc, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_symbols")).cast("long").as("total_symbols"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT)
          AS total_symbols
      FROM documents GROUP BY source ORDER BY source"""))

  /** Robots-GATED streaming ingestion: the q363 curation front door
    * with the q371 RFC 9309 admission filter composed INSIDE the same
    * micro-batch — the compliant-crawler shape end-to-end (fetch →
    * charset → extract → MAY-we-keep-it), all stateless map work. The
    * per-host robots bodies are driver-collected and closure-shipped
    * (a robots table is one small row per HOST — broadcast-scale by
    * nature). cur.test's robots disallow /latin1 and /bom for
    * graftbot, so exactly the two non-ascii-charset pages of the
    * curated fixture must drop; the oracle filters the q363 twin by
    * the same hand-pinned rule. */
  val qStreamingRobotsGate = Q(
    "q375_streaming_robots_ingest",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val base = "/root/repo/src/test/resources/graft/sources"
      val robotsByHost = s.read.format("binaryFile")
        .load(s"$base/robots")
        .select(regexp_extract(col("path"), "([^/]+)\\.txt$", 1),
          col("content").cast("string"))
        .as[(String, String)].collect().toMap
      val arcs = s.read.format("binaryFile").load(s"$base/warc_curated")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, Array[Byte])]
      val src = mem.toDF.toDF("arc_id", "content")
      val pages = graft.ops.Warc.curatedPages(src, "arc_id", "content")
      val admitted = pages.mapPartitions { it =>
        val verdict = graft.ops.Robots.verdicts[String]()
        it.filter { p =>
          val m = "http://([^/]+)(/.*)?".r.findFirstMatchIn(p.url)
          m.forall { g =>
            val host = g.group(1)
            verdict(host, robotsByHost.get(host).orNull, "graftbot",
              Option(g.group(2)).getOrElse("/"))
          }
        }
      }
      val sink = "graft_srob_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-srob-gate").toString
      val query = admitted.toDF.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        arcs.foreach { a =>
          mem.addData(Seq(a))
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .select(col("id").as("arc_id"), col("rec_idx"), col("url"),
          col("charset"), col("text"), col("n_links"))
        .orderBy("arc_id", "rec_idx")
    },
    Some("""SELECT arc_id, rec_idx, url, charset, text, n_links
      FROM '/root/repo/src/test/resources/graft/sources/warc_curated_twin.parquet'
      WHERE url NOT LIKE '%/latin1' AND url NOT LIKE '%/bom'
      ORDER BY arc_id, rec_idx"""))

  /** sitemap.xml frontier parsing on the gate ([[graft.ops.Sitemap]],
    * sitemaps.org 0.9): the crawl-frontier source that pairs with
    * robots (q371) and WARC (q355) — urlset + sitemapindex,
    * namespaced and bare, full/minimal fields, malformed priority →
    * null, loc-less entries dropped, `.xml.gz` delivery, a hostile
    * DOCTYPE (XXE) file and raw garbage both yielding ZERO rows. Twin
    * re-parses the same fixtures with CPython's xml.etree — an XML
    * stack independent of the JDK SAX parser under test. */
  val qSitemapScan = Q(
    "q377_sitemap_scan",
    (s, _) => {
      val maps = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/sitemaps")
        .select(regexp_extract(col("path"), "map_(\\d+)\\.xml", 1)
          .cast("long").as("map_id"), col("content"))
      graft.ops.Sitemap.entries(maps, "map_id", "content").toDF()
        .select(col("id").as("map_id"), col("kind"), col("entry_idx"),
          col("loc"), col("lastmod"), col("changefreq"),
          col("priority"))
        .orderBy("map_id", "entry_idx")
    },
    Some("""SELECT map_id, kind, entry_idx, loc, lastmod, changefreq,
        priority
      FROM '/root/repo/src/test/resources/graft/sources/sitemap_twin.parquet'
      ORDER BY map_id, entry_idx"""))

  /** Sitemap TREE walk on the gate ([[graft.ops.Sitemap.frontier]]):
    * sitemapindex → child-blob lookup → urlset composed as one
    * bounded-iteration op — the crawl loop closes (sitemap = what
    * exists, robots q371 = what may be fetched, WARC q355 = what was
    * fetched). Planted: a root index → 2 children → a gz grandchild,
    * a SELF-CYCLE in the root, a diamond re-reference (child2 names
    * the already-visited child1), a loc-less sitemap entry, a
    * dangling never-fetched child, and a seed that is directly a
    * urlset (depth-0 pages). Twin: an independent xml.etree walk of
    * the same tree under the same documented rules. */
  val qSitemapFrontier = Q(
    "q379_sitemap_frontier",
    (s, _) => {
      import s.implicits._
      val base = "/root/repo/src/test/resources/graft/sources/sitemap_tree"
      val blobs = s.read.format("binaryFile").load(base)
        .select(concat(lit("https://t.example/"),
          regexp_extract(col("path"), "([^/]+)$", 1)).as("sm_url"),
          col("content"))
      val seeds = Seq("https://t.example/root.xml",
        "https://t.example/leaf.xml").toDF("seed")
      graft.ops.Sitemap.frontier(blobs, "sm_url", "content",
          seeds, "seed", maxDepth = 5)
        .orderBy("depth", "sm_url", "entry_idx")
    },
    Some("""SELECT sm_url, depth, entry_idx, loc, lastmod, changefreq,
        priority
      FROM '/root/repo/src/test/resources/graft/sources/sitemap_tree_twin.parquet'
      ORDER BY depth, sm_url, entry_idx"""))

  /** STREAMING robots REFRESH on the gate ([[graft.streaming
    * .StreamingRobots.allowedAtFetchTime]]): robots bodies change
    * while a crawl runs, so each fetch is judged by the VERSION in
    * force at fetch time — a stateless stream–static join (q209's
    * protocol) on host + validity interval, then the q371 evaluator
    * with a per-(host, version) parsed cache. Planted: rules that
    * LOOSEN at a boundary, rules that TIGHTEN, a first robots fetch
    * arriving mid-stream (earlier probes get the no-robots default
    * allow), a never-fetched host, and both [from, to) boundary
    * probes. Probes arrive over three micro-batches; twin = the q371
    * python RFC implementation applied per version window. */
  val qStreamingRobotsRefresh = Q(
    "q380_streaming_robots_refresh",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val base = "/root/repo/src/test/resources/graft/sources"
      val probes = s.read.parquet(s"$base/robots_stream_twin.parquet")
        .select("host", "agent", "path", "fetch_ts_us")
        .as[(String, String, String, Long)].collect()
        .sortBy(p => (p._4, p._1, p._3))
      val versions = s.read.parquet(s"$base/robots_versions.parquet")
      val mem = MemoryStream[(String, String, String, Long)]
      val src = mem.toDF.toDF("host", "agent", "path", "fetch_ts_us")
      val verdicts = graft.streaming.StreamingRobots.allowedAtFetchTime(
        src, "host", "agent", "path", "fetch_ts_us",
        versions, "host", "valid_from_us", "valid_to_us", "txt")
      val sink = "graft_srref_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-srref-gate").toString
      val query = verdicts.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val third = (probes.length + 2) / 3
        probes.grouped(math.max(1, third)).foreach { batch =>
          mem.addData(batch.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .orderBy("host", "agent", "path", "fetch_ts_us")
    },
    Some("""SELECT host, agent, path, fetch_ts_us, allowed
      FROM '/root/repo/src/test/resources/graft/sources/robots_stream_twin.parquet'
      ORDER BY host, agent, path, fetch_ts_us"""))

  /** LINE-level repetition on the gate ([[graft.ops.TextAnalysis
    * .lineRepetitionTable]] — the Gopher duplicate-line /
    * duplicate-line-character fractions; q43's gopherFilter covers
    * the n-gram half). The driver documents are single-line, so the
    * gate runs on a committed multi-line fixture planting boilerplate
    * repetition, whitespace-only lines, CRLF (a `\r` stays part of
    * the line), multibyte lines, the space-only trim rule (a tab-only
    * line survives), empty and NULL texts. No twin file: the oracle
    * is DuckDB re-deriving the same algebra from the same raw texts
    * (two engines, one definition, one input — the q47 discipline). */
  val qLineRepetition = Q(
    "q381_line_repetition",
    (s, _) => {
      val docs = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/line_rep_fixture.parquet")
      graft.ops.TextAnalysis.lineRepetitionTable(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH l AS (
        SELECT doc_id, trim(x, ' ') AS l
        FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS x
              FROM '/root/repo/src/test/resources/graft/sources/line_rep_fixture.parquet')
        WHERE length(trim(x, ' ')) > 0),
      g AS (SELECT doc_id, l, count(*) AS c, length(l) AS len
            FROM l GROUP BY 1, 2),
      a AS (SELECT doc_id,
          CAST(sum(c) AS BIGINT) AS nl,
          count(*) AS ndl,
          CAST(max(c) AS BIGINT) AS mx,
          CAST(sum(c * len) AS BIGINT) AS tot,
          CAST(sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS BIGINT)
            AS dup
        FROM g GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(a.nl, 0) AS n_lines,
        COALESCE(a.ndl, 0) AS n_distinct_lines,
        COALESCE(a.mx, 0) AS max_line_rep,
        round(CASE WHEN a.nl > 0
          THEN (a.nl - a.ndl) / CAST(a.nl AS DOUBLE) ELSE 0.0 END, 6)
          AS dup_line_frac,
        round(CASE WHEN a.tot > 0
          THEN dup / CAST(a.tot AS DOUBLE) ELSE 0.0 END, 6)
          AS dup_line_char_frac
      FROM '/root/repo/src/test/resources/graft/sources/line_rep_fixture.parquet' d
      LEFT JOIN a USING (doc_id)
      ORDER BY doc_id"""))

  /** CONCAT-CHUNK sequence packing on the gate ([[graft.ops
    * .SequencePack.packConcat]] — GPT-style pretraining packing:
    * concatenate per shard in id order with one EOS separator after
    * each document, slice 256-token windows, documents straddle
    * boundaries). Runs at CORPUS scale over every document (token
    * counts via q30's portable whitespace rule); the oracle re-derives
    * the identical offsets from a DuckDB running-sum window — exact
    * SQL oracle because the chunk indices are closed-form in the
    * prefix sum. */
  val qPackConcat = Q(
    "q382_pack_concat",
    (s, dir) => {
      val docs = table(s, dir, "documents").select(
        col("source"), col("doc_id"),
        graft.ops.TextAnalysis.nTokensWhitespace(col("text"))
          .cast("long").as("n_tok"))
      graft.ops.SequencePack.packConcat(docs, "doc_id", "source",
          "n_tok", budget = 256L, sepTokens = 1L)
        .orderBy("source", "doc_id")
    },
    Some("""WITH t AS (SELECT source, doc_id,
        CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
          x -> length(x) > 0)) AS BIGINT) AS n_tokens
      FROM documents),
      o AS (SELECT source, doc_id, n_tokens,
        CAST(COALESCE(sum(n_tokens + 1) OVER (PARTITION BY source
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
          1 PRECEDING), 0) AS BIGINT) AS start_off
      FROM t)
      SELECT source, doc_id, n_tokens, start_off,
        start_off // 256 AS first_chunk,
        CASE WHEN n_tokens > 0
          THEN (start_off + n_tokens - 1) // 256
          ELSE start_off // 256 END AS last_chunk
      FROM o ORDER BY source, doc_id"""))

  /** NEXT-FIT whole-document packing on the gate ([[graft.ops
    * .SequencePack.packNextFit]] — no straddling, the
    * instruction-tuning packing shape). Committed fixture plants the
    * exact-fit boundary (60+40 stays at budget 100), the one-over
    * spill, an oversize singleton + the forced fresh pack after it,
    * zero and negative token counts, a single-doc group, and
    * interleaved groups pinning per-group state reset. Twin: an
    * independent python next-fit under the same documented rules. */
  val qPackNextFit = Q(
    "q383_pack_nextfit",
    (s, _) => {
      val docs = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/pack_fixture.parquet")
      graft.ops.SequencePack.packNextFit(docs, "doc_id", "grp",
          "n_tok", budget = 100L)
        .orderBy("grp", "doc_id")
    },
    Some("""SELECT grp, doc_id, n_tokens, pack_id, oversize
      FROM '/root/repo/src/test/resources/graft/sources/pack_twin.parquet'
      ORDER BY grp, doc_id"""))

  /** Content-defined chunking on the gate ([[graft.ops.ContentChunk]]
    * — gear-hash CDC, the FastCDC family): the SUB-document dedup
    * primitive (pasted spans chunk identically wherever they sit,
    * because boundaries depend only on local content). Fixture plants
    * a long span shared verbatim by two docs at different offsets
    * (≥2 identical interior (hash, length) chunks — asserted at
    * generation), a sub-minSize doc, empty + NULL texts, an
    * all-same-byte degenerate run (only the maxSize cap cuts), and
    * multibyte UTF-8 (chunking is over BYTES). Twin: an independent
    * python implementation of the same documented spec (splitmix64
    * gear table, 64-bit rolling hash, FNV-1a identities). */
  val qCdcChunks = Q(
    "q384_cdc_chunks",
    (s, _) => {
      val docs = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/cdc_fixture.parquet")
      graft.ops.ContentChunk.chunkText(docs, "doc_id", "text",
          minSize = 16, avgBits = 5, maxSize = 96).toDF()
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("offset").as("chunk_off"), // OFFSET is reserved in DuckDB
          col("length").as("chunk_len"), col("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""SELECT doc_id, chunk_idx, "offset" AS chunk_off,
        length AS chunk_len, chunk_hash
      FROM '/root/repo/src/test/resources/graft/sources/cdc_twin.parquet'
      ORDER BY doc_id, chunk_idx"""))

  /** CDC at CORPUS scale (the q384 operator over every
    * `documents.text`): the oracle pins the algorithm's CONSERVATION
    * LAW — chunk lengths tile each document's UTF-8 byte length
    * exactly (a dropped tail, an off-by-one boundary, or a
    * double-emitted chunk breaks per-source equality), and every
    * non-empty document chunks (doc-count parity). q384 certifies the
    * chunk IDENTITIES on the fixture. */
  val qCdcScale = Q(
    "q385_cdc_scale",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val ch = graft.ops.ContentChunk.chunkText(docs, "doc_id", "text",
          minSize = 32, avgBits = 6, maxSize = 256).toDF()
        .groupBy("id").agg(sum(col("length")).as("doc_bytes"))
      docs.join(ch, docs("doc_id") === ch("id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("id")).as("n_chunked_docs"),
          sum(coalesce(col("doc_bytes"), lit(0L))).as("total_bytes"))
        .orderBy("source")
    },
    Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN text IS NOT NULL AND octet_length(
          CAST(text AS BLOB)) > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_chunked_docs,
        CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT)
          AS total_bytes
      FROM documents GROUP BY source ORDER BY source"""))

  /** CRAWL ADMISSION composed end-to-end on the gate: the q379
    * sitemap frontier (what exists) filtered by the q371 RFC 9309
    * evaluator (what may be fetched) — the two halves of the crawl
    * loop joined in one plan: tree walk → URL host/path split →
    * [[graft.ops.Robots.crawlFilter]] → verdict per frontier page.
    * The robots body makes the verdicts non-trivial ON frontier
    * output: graftbot's own group disallows /deep/ with /deep/x
    * allowed back by longest-match; the `*` group's /pages/ ban must
    * NOT bind graftbot (own-group precedence). Twin composes the same
    * two independent python implementations. */
  val qCrawlAdmission = Q(
    "q386_crawl_admission",
    (s, _) => {
      import s.implicits._
      val base = "/root/repo/src/test/resources/graft/sources"
      val blobs = s.read.format("binaryFile").load(s"$base/sitemap_tree")
        .select(concat(lit("https://t.example/"),
          regexp_extract(col("path"), "([^/]+)$", 1)).as("sm_url"),
          col("content"))
      val seeds = Seq("https://t.example/root.xml",
        "https://t.example/leaf.xml").toDF("seed")
      val pages = graft.ops.Sitemap.frontier(blobs, "sm_url", "content",
          seeds, "seed", maxDepth = 5)
        .select(col("loc"), col("depth"),
          regexp_extract(col("loc"), "^https?://([^/]+)", 1).as("host"),
          coalesce(nullif(regexp_extract(col("loc"),
            "^https?://[^/]*(/.*)?$", 1), lit("")), lit("/")).as("path"))
      val robots = s.read.format("binaryFile").load(s"$base/crawl_robots")
        .select(regexp_extract(col("path"), "([^/]+)\\.txt$", 1)
          .as("host"), col("content").cast("string").as("txt"))
      val verdicts = graft.ops.Robots.crawlFilter(
        pages.withColumn("agent", lit("graftbot")),
        "host", "agent", "path", robots, "host", "txt")
      pages.join(verdicts.select("host", "path", "allowed"),
          Seq("host", "path"))
        .select(col("loc"), col("depth"), col("allowed"))
        .orderBy("loc")
    },
    Some("""SELECT loc, depth, allowed
      FROM '/root/repo/src/test/resources/graft/sources/crawl_admission_twin.parquet'
      ORDER BY loc"""))

  /** Byte-BPE ROUND TRIP at corpus scale ([[graft.ops.ByteBpe
    * .decode]] inverts [[graft.ops.ByteBpe.encode]]): every document
    * encodes through the committed merge table and decodes back, and
    * the output must equal the raw table byte-for-byte — the
    * strongest whole-cycle law (any scanner, byte-map, merge, or
    * separator bug anywhere in the pipeline breaks SOME document).
    * Decode needs no merge undoing: the alphabet has no real space,
    * so tokens' chars map 1:1 back to bytes. Null text encodes to
    * zero tokens and decodes to "" (oracle coalesces identically). */
  val qBpeRoundTrip = Q(
    "q387_bpe_roundtrip",
    (s, dir) => {
      val base = "/root/repo/src/test/resources/graft/sources"
      val merges = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get(s"$base/bpe_merges.txt"),
          java.nio.charset.StandardCharsets.UTF_8)
        .toArray(Array.empty[String]).toSeq
        .filter(_.nonEmpty)
        .map { l =>
          val sp = l.indexOf(' ')
          (l.substring(0, sp), l.substring(sp + 1))
        }
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val enc = graft.ops.ByteBpe.encode(docs, "doc_id", "text", merges)
      graft.ops.ByteBpe.decode(enc, "doc_id", "tokens")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, COALESCE(text, '') AS text
      FROM documents ORDER BY doc_id"""))

  /** `Sitemap:` records from robots.txt on the gate ([[graft.ops
    * .Robots.sitemapSeeds]] — the sitemaps.org discovery channel and
    * THE seed source for q379's frontier walk: robots names the
    * sitemaps, the frontier walks them, q371/q386 gate what the walk
    * surfaced). Planted in the q371 fixtures: mixed-case `SiteMap:`
    * field, an indented record with a trailing comment, a record
    * inside a group (position irrelevant — the record is global),
    * an empty-value record (dropped), hosts with none. Evaluator
    * verdicts are UNCHANGED (RFC treats the record as an "other
    * record" — q371 re-gates that). Twin: the same independent
    * python pass over the same committed files. */
  val qRobotsSitemapSeeds = Q(
    "q388_robots_sitemap_seeds",
    (s, _) => {
      val base = "/root/repo/src/test/resources/graft/sources"
      val robots = s.read.format("binaryFile").load(s"$base/robots")
        .select(regexp_extract(col("path"), "([^/]+)\\.txt$", 1)
          .as("host"), col("content").cast("string").as("txt"))
      graft.ops.Robots.sitemapSeeds(robots, "host", "txt")
        .orderBy("host", "rec_idx")
    },
    Some("""SELECT host, rec_idx, sm_url
      FROM '/root/repo/src/test/resources/graft/sources/robots_sitemap_twin.parquet'
      ORDER BY host, rec_idx"""))

  /** Per-document DUPLICATION MASS on the gate ([[graft.ops
    * .ContentChunk.dupMass]]): the fraction of each document's bytes
    * in chunks shared with at least one OTHER document — what
    * sub-document dedup can actually reclaim per doc (the q384
    * fixture's pasted span shows up as ~reciprocal dup_frac on docs
    * 0 and 1; within-doc repetition deliberately excluded). Oracle:
    * DuckDB re-derives the same algebra from the committed q384 twin
    * (whose chunk values q384 certifies against the python CDC twin
    * — so this gate is end-to-end: chunker AND mass algebra). */
  val qCdcDupMass = Q(
    "q389_cdc_dup_mass",
    (s, _) => {
      val docs = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/cdc_fixture.parquet")
      val ch = graft.ops.ContentChunk.chunkText(docs, "doc_id", "text",
        minSize = 16, avgBits = 5, maxSize = 96)
      graft.ops.ContentChunk.dupMass(docs, "doc_id", ch)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT * FROM
        '/root/repo/src/test/resources/graft/sources/cdc_twin.parquet'),
      d AS (SELECT chunk_hash, length, count(DISTINCT doc_id) AS nd
            FROM t GROUP BY 1, 2),
      j AS (SELECT t.doc_id, t.length, d.nd
            FROM t JOIN d USING (chunk_hash, length)),
      a AS (SELECT doc_id, CAST(sum(length) AS BIGINT) AS tot,
            CAST(sum(CASE WHEN nd > 1 THEN length ELSE 0 END) AS BIGINT)
              AS shared
            FROM j GROUP BY 1)
      SELECT f.doc_id,
        COALESCE(a.tot, 0) AS total_bytes,
        COALESCE(a.shared, 0) AS shared_bytes,
        round(CASE WHEN a.tot > 0
          THEN a.shared / CAST(a.tot AS DOUBLE) ELSE 0.0 END, 6)
          AS dup_frac
      FROM '/root/repo/src/test/resources/graft/sources/cdc_fixture.parquet' f
      LEFT JOIN a USING (doc_id)
      ORDER BY f.doc_id"""))

  /** STREAMING chunk-level novelty on the gate ([[graft.streaming
    * .StreamingChunkDedup.novelChunks]] — first-seen state on CDC
    * chunk keys, the incremental-ingest metric: new bytes per
    * document given everything seen before it). The fixture docs
    * stream in three doc-id-ordered micro-batches; docs 0/1 exercise
    * WITHIN-batch suppression (same pasted span, same batch), doc 7
    * CROSS-batch suppression (repeats the span two batches later),
    * doc 5 within-doc suppression (three identical max-size chunks),
    * empty/null docs emit nothing. Twin replays the identical
    * protocol in python on the q384-certified chunker. */
  val qStreamingChunkNovelty = Q(
    "q390_streaming_chunk_novelty",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/cdc_fixture.parquet")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, String)]
      val src = mem.toDF.toDF("doc_id", "text")
      val seen = graft.streaming.StreamingChunkDedup.novelChunks(
        src, "doc_id", "text", minSize = 16, avgBits = 5, maxSize = 96)
      val sink = "graft_scnk_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-scnk-gate").toString
      val query = seen.toDF.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val per = (docs.length + 2) / 3
        docs.grouped(per).foreach { batch =>
          mem.addData(batch.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      // per-doc aggregation happens batch-side on the collected rows
      // (an aggregate AFTER flatMapGroupsWithState in Append mode
      // would need a watermark; the state op is the streaming part)
      val all = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/cdc_fixture.parquet").select(col("doc_id"))
      StreamGate.finish(s, sink, ckpt,
        all.join(s.table(sink), Seq("doc_id"), "left")
          .groupBy("doc_id")
          .agg(count(col("chunk_idx")).as("n_chunks"),
            sum(coalesce(col("length"), lit(0L))).as("total_bytes"),
            sum(when(col("novel"), col("length")).otherwise(lit(0L)))
              .as("novel_bytes")))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chunks, total_bytes, novel_bytes
      FROM '/root/repo/src/test/resources/graft/sources/cdc_stream_twin.parquet'
      ORDER BY doc_id"""))

  /** HTML link extraction + RFC 3986 resolution on the gate
    * ([[graft.ops.LinkExtract]] + [[graft.ops.UrlResolve]] — the
    * link-graph front end: hrefs of opening `<a>` tags, quote-aware
    * scan, script/comment exclusion, first-href-wins attribute rules,
    * entity decode, then §5 reference resolution against the page
    * URL). Planted: dot segments + beyond-root clamp, scheme-relative
    * `//host`, query-only/fragment-only/empty refs, `&amp;` in a
    * query string, unquoted/single-quoted/mixed-case HREF, boolean
    * href and href-less `<a>` (skipped), a `>` inside a quoted
    * attribute, decoy hrefs in comments and scripts (must NOT
    * extract), an empty-base-path merge. Twin: independent python
    * implementations of both specs, every resolution TRIANGULATED
    * against CPython's urllib.parse.urljoin; UrlResolveSpec pins the
    * RFC's own §5.4 normal+abnormal tables verbatim. */
  val qHtmlLinks = Q(
    "q391_html_links",
    (s, _) => {
      val base = "/root/repo/src/test/resources/graft/sources"
      val pages = s.read.format("binaryFile").load(s"$base/html_links")
        .select(regexp_extract(col("path"), "page_(\\d+)\\.html", 1)
          .cast("long").as("page_id"),
          col("content").cast("string").as("html"))
      val urls = s.read.parquet(s"$base/html_links_twin.parquet")
        .select("page_id", "page_url").distinct()
      val docs = pages.join(urls, Seq("page_id"))
      graft.ops.LinkExtract.links(docs, "page_id", "page_url", "html")
        .toDF()
        .select(col("id").as("page_id"), col("link_idx"), col("href"),
          col("resolved"), col("anchor"))
        .orderBy("page_id", "link_idx")
    },
    Some("""SELECT page_id, link_idx, href, resolved, anchor
      FROM '/root/repo/src/test/resources/graft/sources/html_links_twin.parquet'
      ORDER BY page_id, link_idx"""))

  /** Host-level LINK GRAPH at corpus scale: every document becomes a
    * synthetic page (q353's discipline — the oracle knows the
    * CONSTRUCTION, never re-implements extraction) with a page URL on
    * its source's host, one deterministic link cycling relative /
    * dot-segment / entity-encoded-query / absolute forms, one
    * scheme-relative CDN link, and a decoy href inside a script that
    * must NOT reach the graph. The real extractor + resolver + host
    * aggregation run end-to-end; the oracle derives the same edges
    * from the construction arithmetic. Relative forms resolving to
    * the OWN host and absolute forms fanning to abs{0..6}/cdn{0..2}
    * make every rule's failure visible as an edge-count shift. */
  val qLinkGraphScale = Q(
    "q392_link_graph_scale",
    (s, dir) => {
      val docs = table(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("http://"), col("source"), lit(".example/d/"),
          col("doc_id").cast("string")).as("page_url"),
        concat(
          lit("<p>t</p><a href=\""),
          when(col("doc_id") % 4 === 0,
            concat(lit("p/"), col("doc_id").cast("string")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("../q"), col("doc_id").cast("string")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("/r?a=1&amp;b="), col("doc_id").cast("string")))
            .otherwise(concat(lit("http://abs"),
              (col("doc_id") % 7).cast("string"), lit(".example/s"))),
          lit("\">l</a><script>var a='<a href=\"http://decoy.example/x\">'"
            + ";</script><a href=\"//cdn"),
          (col("doc_id") % 3).cast("string"),
          lit(".example/z\">m</a>")).as("html"))
      val lt = graft.ops.LinkExtract.links(docs, "doc_id", "page_url",
        "html")
      graft.ops.LinkExtract.hostEdges(lt, docs, "doc_id", "page_url")
        .orderBy("src_host", "dst_host")
    },
    Some("""WITH e AS (
        SELECT source || '.example' AS src_host,
          CASE WHEN doc_id % 4 = 3
            THEN 'abs' || CAST(doc_id % 7 AS VARCHAR) || '.example'
            ELSE source || '.example' END AS dst_host
        FROM documents
        UNION ALL
        SELECT source || '.example',
          'cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example'
        FROM documents)
      SELECT src_host, dst_host, count(*) AS n_links
      FROM e GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Host-graph PAGERANK composed end-to-end (q392's extracted link
    * graph → [[graft.ops.GraphStats.pageRank]]): the authority score
    * a crawl scheduler ranks hosts by, computed over edges the REAL
    * extractor + RFC resolver produced — not a hand-built edge list.
    * Hosts map to node ids through the portable md5-60 hash (the
    * dkHash contract, [[graft.functions.StatFunctions.hash64]]), so
    * the oracle replays the identical ids; cdnN and absN sink hosts have
    * no out-edges, exercising the dangling-mass redistribution. Exact
    * integer quota arithmetic (q184's discipline) against the same
    * unrolled recursive SQL, at 4 iterations to pin parametricity
    * (q184 runs 5). */
  val qHostPageRank = Q(
    "q393_host_pagerank",
    (s, dir) => {
      val docs = table(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("http://"), col("source"), lit(".example/d/"),
          col("doc_id").cast("string")).as("page_url"),
        concat(
          lit("<p>t</p><a href=\""),
          when(col("doc_id") % 4 === 0,
            concat(lit("p/"), col("doc_id").cast("string")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("../q"), col("doc_id").cast("string")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("/r?a=1&amp;b="), col("doc_id").cast("string")))
            .otherwise(concat(lit("http://abs"),
              (col("doc_id") % 7).cast("string"), lit(".example/s"))),
          lit("\">l</a><script>var a='<a href=\"http://decoy.example/x\">'"
            + ";</script><a href=\"//cdn"),
          (col("doc_id") % 3).cast("string"),
          lit(".example/z\">m</a>")).as("html"))
      val lt = graft.ops.LinkExtract.links(docs, "doc_id", "page_url",
        "html")
      val he = graft.ops.LinkExtract
        .hostEdges(lt, docs, "doc_id", "page_url")
      import graft.functions.StatFunctions.hash64
      val edges = he.select(hash64(col("src_host"), 7).as("src"),
        hash64(col("dst_host"), 7).as("dst"))
      val hostIds = he.select(col("src_host").as("host"))
        .unionAll(he.select(col("dst_host").as("host")))
        .distinct()
        .select(col("host"), hash64(col("host"), 7).as("id"))
      val nodes = hostIds.select("id")
      graft.ops.GraphStats.pageRank(edges, "src", "dst", nodes, "id",
          iterations = 4)
        .join(hostIds, Seq("id"))
        .select(col("host"), col("rank_q"))
        .orderBy("host")
    },
    Some {
      val iterCtes = (1 to 4).map { i =>
        val prev = s"r${i - 1}"
        s"""d$i AS (SELECT coalesce(sum(q), 0) AS ds FROM $prev
            LEFT JOIN odeg ON odeg.src = $prev.id WHERE odeg.src IS NULL),
          c$i AS (SELECT e.dst AS id, sum(r.q // o.outdeg) AS insum
                  FROM $prev r JOIN odeg o ON o.src = r.id
                  JOIN e ON e.src = r.id GROUP BY 1),
          r$i AS (SELECT nd.id,
              (1000000000000 - (1000000000000 * 85) // 100)
                // (SELECT n FROM nn)
              + (85 * ((SELECT ds FROM d$i) // (SELECT n FROM nn)
                       + coalesce(c.insum, 0))) // 100 AS q
            FROM nd LEFT JOIN c$i c ON c.id = nd.id)"""
      }.mkString(",\n          ")
      s"""WITH he AS (
            SELECT DISTINCT source || '.example' AS sh,
              CASE WHEN doc_id % 4 = 3
                THEN 'abs' || CAST(doc_id % 7 AS VARCHAR) || '.example'
                ELSE source || '.example' END AS dh
            FROM documents
            UNION
            SELECT DISTINCT source || '.example',
              'cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example'
            FROM documents),
          hosts AS (SELECT DISTINCT h AS host FROM (
            SELECT sh AS h FROM he UNION SELECT dh FROM he)),
          ids AS (SELECT host,
              ('0x' || substr(md5('7:' || host), 1, 15))::BIGINT AS id
            FROM hosts),
          e AS (SELECT DISTINCT i1.id AS src, i2.id AS dst
            FROM he JOIN ids i1 ON i1.host = he.sh
            JOIN ids i2 ON i2.host = he.dh),
          nd AS (SELECT id FROM ids),
          odeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
          nn AS (SELECT count(*) AS n FROM nd),
          r0 AS (SELECT id, 1000000000000 // (SELECT n FROM nn) AS q
                 FROM nd),
          $iterCtes
        SELECT ids.host, CAST(q AS BIGINT) AS rank_q
        FROM r4 JOIN ids ON ids.id = r4.id ORDER BY ids.host"""
    })

  /** ANCHOR-TERM index on the gate: the IR-standard
    * target-URL → top anchor terms table (anchor text describes the
    * TARGET, so aggregating it across linking pages yields the
    * best-known external description of each URL). Built from q391's
    * certified links: lowercased whitespace terms → per-(target,
    * term) counts → top-3 per target through the BOUNDED mergeable
    * heap ([[graft.functions.BoundedTopK]], ord = count, id =
    * portable md5-60 term hash) — a hot URL with millions of anchors
    * ships O(k) per partition, never a collected anchor list. Oracle
    * replays the identical (count DESC, hash ASC) order with a
    * window over the twin (the q197 discipline). */
  val qAnchorIndex = Q(
    "q394_anchor_index",
    (s, _) => {
      val base = "/root/repo/src/test/resources/graft/sources"
      val pages = s.read.format("binaryFile").load(s"$base/html_links")
        .select(regexp_extract(col("path"), "page_(\\d+)\\.html", 1)
          .cast("long").as("page_id"),
          col("content").cast("string").as("html"))
      val urls = s.read.parquet(s"$base/html_links_twin.parquet")
        .select("page_id", "page_url").distinct()
      val lt = graft.ops.LinkExtract.links(
        pages.join(urls, Seq("page_id")), "page_id", "page_url", "html")
      import graft.functions.StatFunctions.hash64
      val termCounts = lt.toDF()
        .select(col("resolved"),
          explode(graft.ops.TextAnalysis.words(col("anchor")))
            .as("term"))
        .groupBy("resolved", "term")
        .agg(count(lit(1)).as("cnt"))
      val topK = termCounts
        .select(col("resolved"), col("term"), col("cnt"),
          hash64(col("term"), 11).as("tid"))
        .groupBy("resolved")
        .agg(graft.functions.BoundedTopK
          .topK(col("cnt"), col("tid"), 3).as("top"))
        .select(col("resolved"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("resolved"), (col("pos") + 1).cast("int").as("rnk"),
          col("t.id").as("tid"), col("t.ord").as("n_refs"))
      val names = termCounts
        .select(col("term"), hash64(col("term"), 11).as("tid")).distinct()
      topK.join(names, Seq("tid"))
        .select(col("resolved"), col("rnk"), col("term"), col("n_refs"))
        .orderBy("resolved", "rnk")
    },
    Some("""WITH terms AS (
        SELECT resolved,
          unnest(list_filter(string_split_regex(lower(anchor), '\s+'),
            x -> length(x) > 0)) AS term
        FROM '/root/repo/src/test/resources/graft/sources/html_links_twin.parquet'),
      tc AS (SELECT resolved, term, count(*) AS cnt,
          ('0x' || substr(md5('11:' || term), 1, 15))::BIGINT AS tid
        FROM terms GROUP BY 1, 2),
      rk AS (SELECT resolved, term, cnt,
          row_number() OVER (PARTITION BY resolved
            ORDER BY cnt DESC, tid ASC) AS rnk
        FROM tc)
      SELECT resolved, CAST(rnk AS INT) AS rnk, term,
        CAST(cnt AS BIGINT) AS n_refs
      FROM rk WHERE rnk <= 3 ORDER BY resolved, rnk"""))

  /** RFC 3986 §6 URL CANONICALIZATION on the gate ([[graft.ops
    * .UrlResolve.canonicalize]] — §6.2.2 syntax-based + §6.2.3
    * scheme-based normalization, the equivalence step [[UrlResolve
    * .resolve]] deliberately stops short of: canonical graph-node /
    * dedup keys). Planted in the fixture: scheme/host case, default
    * ports 80/443/21 dropped vs non-default and leading-zero ports
    * kept verbatim, empty port, %7E→~ / %41→A unreserved decodes,
    * retained-escape hex uppercased (%2f→%2F), dot segments +
    * beyond-root clamp, %2E decoding BEFORE dot-segment removal
    * (§6.2.2's ordering), empty http(s) path → "/", userinfo escapes,
    * IPv6 literal hosts, invalid escapes verbatim, empty-query '?'
    * preserved. Twin: an independent stdlib python implementation of
    * the same RFC sections, triangulated against urllib's
    * urlsplit/unquote where the semantics agree. */
  val qUrlCanonicalize = Q(
    "q395_url_canonicalize",
    (s, _) => {
      import s.implicits._
      s.read.parquet("/root/repo/src/test/resources/graft/sources/" +
          "url_canon_twin.parquet")
        .select(col("url_id"), col("raw"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, u) =>
          (id, u, graft.ops.UrlResolve.canonicalize(u))
        })
        .toDF("url_id", "raw", "canonical")
        .orderBy("url_id")
    },
    Some("""SELECT url_id, raw, canonical
      FROM '/root/repo/src/test/resources/graft/sources/url_canon_twin.parquet'
      ORDER BY url_id"""))

  /** CANONICAL link-graph TARGETS at corpus scale ([[graft.ops
    * .LinkExtract.canonicalTargets]] over the real extractor +
    * resolver): each document becomes a synthetic page whose first
    * link spells ONE target ('http://tgt.example/p/<doc_id%5>') in
    * four RFC-equivalent forms cycling on doc_id%4 — uppercase
    * scheme/host, explicit :80, a dot-segment detour, a %70('p')
    * escape — and 4 ∤ 5 makes every form hit every target, so the
    * canonical frontier must merge them (n_forms counts the distinct
    * raw spellings that fused: the mass an uncanonicalized frontier
    * splits). A per-doc relative link and a fragment-only link pin
    * resolution + fragment-drop on the same rows. Oracle: the q392
    * discipline — construction arithmetic, never re-extraction. */
  val qCanonicalTargets = Q(
    "q396_canonical_targets",
    (s, dir) => {
      val docs = table(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("http://"), col("source"), lit(".example/d/"),
          col("doc_id").cast("string")).as("page_url"),
        concat(
          lit("<a href=\""),
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTP://TGT.Example/p/"),
              (col("doc_id") % 5).cast("string")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("http://tgt.example:80/p/"),
                (col("doc_id") % 5).cast("string")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("http://tgt.example/a/../p/"),
                (col("doc_id") % 5).cast("string")))
            .otherwise(concat(lit("http://tgt.example/%70/"),
              (col("doc_id") % 5).cast("string"))),
          lit("\">l</a><a href=\"q"), col("doc_id").cast("string"),
          lit("\">m</a><a href=\"#sec\">n</a>")).as("html"))
      val lt = graft.ops.LinkExtract.links(docs, "doc_id", "page_url",
        "html")
      graft.ops.LinkExtract.canonicalTargets(lt)
        .orderBy("target")
    },
    Some("""WITH t1 AS (SELECT
          'http://tgt.example/p/' || CAST(doc_id % 5 AS VARCHAR)
            AS target, doc_id % 4 AS form
        FROM documents),
      g1 AS (SELECT target, count(*) AS n_inlinks,
          count(DISTINCT form) AS n_forms FROM t1 GROUP BY 1),
      g2 AS (SELECT 'http://' || source || '.example/d/q'
            || CAST(doc_id AS VARCHAR) AS target,
          CAST(1 AS BIGINT) AS n_inlinks, CAST(1 AS BIGINT) AS n_forms
        FROM documents),
      g3 AS (SELECT 'http://' || source || '.example/d/'
            || CAST(doc_id AS VARCHAR),
          CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        FROM documents)
      SELECT target, n_inlinks, n_forms FROM
        (SELECT * FROM g1 UNION ALL SELECT * FROM g2
         UNION ALL SELECT * FROM g3)
      ORDER BY target"""))

  /** CANONICAL-key URL dedup ([[graft.ops.UrlResolve.canonicalize]]
    * as the dedup key — the §6 twin of q75's heuristic crawl
    * canonicalizer): five RFC-equivalent spellings of each URL
    * (plain, cased, :80, dot-segment detour, %64('d') escape) cycling
    * on doc_id%5 against a doc_id%7 path key (5 ∤ 7: every spelling
    * hits every group), grouped on the canonical form. An
    * uncanonicalized key would read 5× the groups; n_forms pins
    * exactly which spellings fused. */
  val qUrlDedupCanonical = Q(
    "q397_url_dedup_canonical",
    (s, dir) => {
      import s.implicits._
      val urls = table(s, dir, "documents").select(
        col("source"),
        when(col("doc_id") % 5 === 0,
          concat(lit("http://"), col("source"), lit(".example/d/"),
            (col("doc_id") % 7).cast("string")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("HTTP://"), upper(col("source")),
              lit(".Example/d/"), (col("doc_id") % 7).cast("string")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("http://"), col("source"), lit(".example:80/d/"),
              (col("doc_id") % 7).cast("string")))
          .when(col("doc_id") % 5 === 3,
            concat(lit("http://"), col("source"),
              lit(".example/a/../d/"), (col("doc_id") % 7).cast("string")))
          .otherwise(concat(lit("http://"), col("source"),
            lit(".example/%64/"), (col("doc_id") % 7).cast("string")))
          .as("url"))
      urls.as[(String, String)]
        .mapPartitions(_.map { case (src, u) =>
          (src, u, graft.ops.UrlResolve.canonicalize(u))
        })
        .toDF("source", "raw", "canonical_url")
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("raw")).as("n_forms"))
        .orderBy("canonical_url")
    },
    Some("""SELECT 'http://' || source || '.example/d/'
          || CAST(doc_id % 7 AS VARCHAR) AS canonical_url,
        count(*) AS n_docs,
        count(DISTINCT doc_id % 5) AS n_forms
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** STREAMING chunk novelty with EVENT-TIME TTL on the gate
    * ([[graft.streaming.StreamingChunkDedup.novelChunksEventTime]] —
    * the production recrawl form of q390: state expires ttlMs past a
    * chunk's last event time once the watermark passes, so state is
    * bounded by the TTL horizon's distinct chunks, not all history).
    * The fixture streams four explicit event-time-ordered batches
    * (TTL 30 s): alpha/beta chunks are novel in batch 1, suppressed
    * on batch-1/-2 repeats (the batch-2 beta repeat RE-ARMS its
    * timeout), spacer rows advance the watermark to 100 s so both
    * states expire during batch 3, and the batch-4 recurrences read
    * NOVEL AGAIN — the planted expiry — with a batch-4 within-batch
    * dup still suppressed and an empty doc emitting nothing. Twin:
    * the python CDC chunker (q384-certified) under an independent
    * replay of the documented watermark/timeout protocol. */
  val qStreamingChunkTtl = Q(
    "q398_streaming_chunk_ttl",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = s.read.parquet("/root/repo/src/test/resources/graft/" +
          "sources/cdc_ttl_fixture.parquet")
        .select(col("doc_id"), col("ts_sec"), col("text"))
        .as[(Long, Long, String)].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, Long, String)]
      val src = mem.toDF.toDF("doc_id", "ts_sec", "text")
        .select(col("doc_id"), col("text"),
          timestamp_micros(col("ts_sec") * 1000000L).as("ts"))
      val seen = graft.streaming.StreamingChunkDedup.novelChunksEventTime(
        src, "doc_id", "text", "ts", ttlMs = 30000L,
        minSize = 16, avgBits = 5, maxSize = 96)
      val sink = "graft_sctl_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-sctl-gate").toString
      val query = seen.toDF.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        // the twin's batch protocol: doc_id splits at 3 / 5 / 6
        Seq((0L, 3L), (3L, 5L), (5L, 6L), (6L, 10L)).foreach {
          case (lo, hi) =>
            mem.addData(docs.filter(d => d._1 >= lo && d._1 < hi)
              .toIndexedSeq)
            query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .select(col("doc_id"), col("chunk_idx"), col("length"),
          col("novel"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""SELECT doc_id, chunk_idx, length, novel
      FROM '/root/repo/src/test/resources/graft/sources/cdc_ttl_twin.parquet'
      ORDER BY doc_id, chunk_idx"""))

  /** Avro ONE-LEVEL COMPLEX types on the gate ([[graft.sources
    * .AvroSource]] — `array<primitive>` and `map<string,primitive>`,
    * the shapes real corpus metadata (tags, per-field scores)
    * routinely carries; the r14 verdict's task #7 closing the loud
    * rejection at `AvroSource`'s schema reader). Fixtures are written
    * by avro-java (scripts/GenAvroComplexFixture.java — null-codec
    * multi-block AND deflate files, so container payloads ride the
    * block walk), with primitives BETWEEN containers so any container
    * mis-decode desynchronizes a gated primitive; the nullable
    * `["null", array<long>]` union and empty containers are planted.
    * The gate projects containers into SQL-comparable scalars (sizes,
    * ordered csv joins, per-key lookups); twin computes the same
    * scalars from the shared formula in pyarrow, no avro library. */
  val qAvroComplex = Q(
    "q399_avro_complex",
    (s, _) => {
      val df = s.read.format("graft-avro")
        .load("/root/repo/src/test/resources/graft/sources/avro_complex")
      df.select(
        col("id"),
        size(col("tags")).as("n_tags"),
        concat_ws(",", col("tags")).as("tags_csv"),
        col("w"),
        size(col("scores")).as("n_scores"),
        element_at(col("scores"), "a").as("score_a"),
        element_at(col("scores"), "b").as("score_b"),
        coalesce(size(col("opt_ids")), lit(-1)).as("n_opt"),
        when(col("opt_ids").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(",",
            transform(col("opt_ids"), x => x.cast("string"))))
          .as("opt_csv"),
        col("label"))
        .orderBy("id")
    },
    Some("""SELECT id, n_tags, tags_csv, w, n_scores, score_a, score_b,
        n_opt, opt_csv, label
      FROM '/root/repo/src/test/resources/graft/sources/avro_complex_twin.parquet'
      ORDER BY id"""))

  /** The crawl pipeline composed END-TO-END on ONE gate (the
    * round-14 shelf's q334-style capstone — r14 verdict task #4):
    * robots `Sitemap:` seeds ([[graft.ops.Robots.sitemapSeeds]]) →
    * sitemap frontier walk ([[graft.ops.Sitemap.frontier]]) →
    * RFC 9309 admission ([[graft.ops.Robots.crawlFilter]]) → WARC
    * fetch ([[graft.ops.Warc.rawHtmlPages]], with planted fetch
    * FAILURES so the admitted⋈archive join is a real stage) → HTML
    * link extraction + RFC 3986 resolution ([[graft.ops.LinkExtract
    * .links]]) → host edges → integer-quota PageRank ([[graft.ops
    * .GraphStats.pageRank]], 4 iterations, dangling deny-all host
    * h3). Output: the per-host DISPOSITION LOG a crawl operator
    * reads — discovered/admitted/fetched counts, out-link mass, and
    * authority. Twin: every stage's already-certified python half
    * composed (robots q371's, resolution q391's urljoin-triangulated,
    * WARC framing q355's); the oracle replays counts and the
    * PageRank arithmetic from the twin tables. */
  val qCrawlPipeline = Q(
    "q400_crawl_pipeline",
    (s, _) => {
      val base = "/root/repo/src/test/resources/graft/sources/" +
        "crawl_pipeline"
      val robots = s.read.format("binaryFile").load(s"$base/robots")
        .select(regexp_extract(col("path"), "([^/]+)\\.txt$", 1)
          .as("host"), col("content").cast("string").as("txt"))
      // STAGE 1 — discover: robots Sitemap: records seed the frontier
      val seeds = graft.ops.Robots.sitemapSeeds(robots, "host", "txt")
      val blobs = s.read.format("binaryFile").load(s"$base/sitemaps")
        .select(concat(lit("http://"),
          regexp_replace(regexp_extract(col("path"), "([^/]+)$", 1),
            "--", "/")).as("sm_url"), col("content"))
      val pages = graft.ops.Sitemap.frontier(blobs, "sm_url", "content",
          seeds, "sm_url", maxDepth = 5)
        .select(col("loc"), col("depth"),
          regexp_extract(col("loc"), "^https?://([^/]+)", 1).as("host"),
          coalesce(nullif(regexp_extract(col("loc"),
            "^https?://[^/]*(/.*)?$", 1), lit("")), lit("/")).as("path"))
      // STAGE 2 — admit (RFC 9309, agent graftbot)
      val verdicts = graft.ops.Robots.crawlFilter(
        pages.withColumn("agent", lit("graftbot")),
        "host", "agent", "path", robots, "host", "txt")
      val judged = pages.join(
        verdicts.select("host", "path", "allowed"), Seq("host", "path"))
      // STAGE 3 — fetch: the committed archives; a planted admitted-
      // but-missing URL shows up as fetched = false
      val arcs = s.read.format("binaryFile").load(s"$base/arcs")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
      val fetched = graft.ops.Warc
        .rawHtmlPages(arcs, "arc_id", "content").toDF()
        .select((col("id") * 1000 + col("rec_idx")).as("page_id"),
          col("url"), col("html"))
      val fetchedPages = judged.where(col("allowed"))
        .join(fetched, judged("loc") === fetched("url"))
        .select(col("page_id"), col("url"), col("html"))
      // STAGE 4 — extract links + resolve + host edges
      val lt = graft.ops.LinkExtract.links(fetchedPages, "page_id",
        "url", "html")
      val edges = graft.ops.LinkExtract.hostEdges(lt,
        fetchedPages, "page_id", "url")
      // STAGE 5 — rank: nodes = discovered hosts ∪ edge endpoints
      import graft.functions.StatFunctions.hash64
      val hosts = judged.select(col("host"))
        .unionAll(edges.select(col("src_host").as("host")))
        .unionAll(edges.select(col("dst_host").as("host")))
        .distinct()
      val hostIds = hosts.select(col("host"),
        hash64(col("host"), 7).as("id"))
      val ranks = graft.ops.GraphStats.pageRank(
          edges.select(hash64(col("src_host"), 7).as("src"),
            hash64(col("dst_host"), 7).as("dst")),
          "src", "dst", hostIds.select("id"), "id", iterations = 4)
        .join(hostIds, Seq("id"))
      // the DISPOSITION LOG
      val disp = judged.groupBy("host").agg(
        count(lit(1)).as("n_discovered"),
        sum(when(col("allowed"), 1L).otherwise(0L)).as("n_admitted"))
      val fcnt = fetchedPages
        .select(regexp_extract(col("url"), "^https?://([^/]+)", 1)
          .as("host"))
        .groupBy("host").agg(count(lit(1)).as("n_fetched"))
      val lout = edges.groupBy("src_host")
        .agg(sum(col("n_links")).as("n_links_out"))
        .withColumnRenamed("src_host", "host")
      ranks.select(col("host"), col("rank_q"))
        .join(disp, Seq("host"), "left")
        .join(fcnt, Seq("host"), "left")
        .join(lout, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("n_discovered"), lit(0L)).as("n_discovered"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("n_fetched"), lit(0L)).as("n_fetched"),
          coalesce(col("n_links_out"), lit(0L)).as("n_links_out"),
          col("rank_q"))
        .orderBy("host")
    },
    Some {
      val iterCtes = (1 to 4).map { i =>
        val prev = s"r${i - 1}"
        s"""d$i AS (SELECT coalesce(sum(q), 0) AS ds FROM $prev
            LEFT JOIN odeg ON odeg.src = $prev.id WHERE odeg.src IS NULL),
          c$i AS (SELECT e.dst AS id, sum(r.q // o.outdeg) AS insum
                  FROM $prev r JOIN odeg o ON o.src = r.id
                  JOIN e ON e.src = r.id GROUP BY 1),
          r$i AS (SELECT nd.id,
              (1000000000000 - (1000000000000 * 85) // 100)
                // (SELECT n FROM nn)
              + (85 * ((SELECT ds FROM d$i) // (SELECT n FROM nn)
                       + coalesce(c.insum, 0))) // 100 AS q
            FROM nd LEFT JOIN c$i c ON c.id = nd.id)"""
      }.mkString(",\n          ")
      s"""WITH u AS (SELECT * FROM
            '/root/repo/src/test/resources/graft/sources/crawl_pipeline_urls_twin.parquet'),
          e0 AS (SELECT * FROM
            '/root/repo/src/test/resources/graft/sources/crawl_pipeline_edges_twin.parquet'),
          d AS (SELECT host, count(*) AS n_disc,
              CAST(sum(allowed::INT) AS BIGINT) AS n_adm,
              CAST(sum(fetched::INT) AS BIGINT) AS n_fetch
            FROM u GROUP BY 1),
          lo AS (SELECT src_host AS host,
              CAST(sum(n_links) AS BIGINT) AS nl FROM e0 GROUP BY 1),
          hosts AS (SELECT DISTINCT h AS host FROM (
            SELECT host AS h FROM u UNION SELECT src_host FROM e0
            UNION SELECT dst_host FROM e0)),
          ids AS (SELECT host,
              ('0x' || substr(md5('7:' || host), 1, 15))::BIGINT AS id
            FROM hosts),
          e AS (SELECT DISTINCT i1.id AS src, i2.id AS dst
            FROM e0 JOIN ids i1 ON i1.host = e0.src_host
            JOIN ids i2 ON i2.host = e0.dst_host),
          nd AS (SELECT id FROM ids),
          odeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
          nn AS (SELECT count(*) AS n FROM nd),
          r0 AS (SELECT id, 1000000000000 // (SELECT n FROM nn) AS q
                 FROM nd),
          $iterCtes
        SELECT ids.host,
          coalesce(d.n_disc, 0) AS n_discovered,
          coalesce(d.n_adm, 0) AS n_admitted,
          coalesce(d.n_fetch, 0) AS n_fetched,
          coalesce(lo.nl, 0) AS n_links_out,
          CAST(q AS BIGINT) AS rank_q
        FROM r4 JOIN ids ON ids.id = r4.id
        LEFT JOIN d ON d.host = ids.host
        LEFT JOIN lo ON lo.host = ids.host
        ORDER BY ids.host"""
    })

  /** The q392/q393 synthetic page construction (one messy link per
    * doc + a CDN link + a script decoy), shared by the budget gates:
    * the oracle always re-derives edges from this construction's
    * arithmetic, never from re-extraction. */
  private def linkGraphDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    table(s, dir, "documents").select(
      col("doc_id"),
      concat(lit("http://"), col("source"), lit(".example/d/"),
        col("doc_id").cast("string")).as("page_url"),
      concat(
        lit("<p>t</p><a href=\""),
        when(col("doc_id") % 4 === 0,
          concat(lit("p/"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("../q"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/r?a=1&amp;b="), col("doc_id").cast("string")))
          .otherwise(concat(lit("http://abs"),
            (col("doc_id") % 7).cast("string"), lit(".example/s"))),
        lit("\">l</a><script>var a='<a href=\"http://decoy.example/x\">'"
          + ";</script><a href=\"//cdn"),
        (col("doc_id") % 3).cast("string"),
        lit(".example/z\">m</a>")).as("html"))

  /** The q401/q402 ranked-budget preamble: the REAL extractor +
    * resolver over [[linkGraphDocs]] → host edges → 4-iteration
    * integer-quota PageRank → rank-proportional budget split
    * ([[graft.ops.CrawlBudget.rankBudgets]]) of `total`. */
  private def hostBudgetFrames(s: org.apache.spark.sql.SparkSession,
      dir: String, total: Long): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.functions.StatFunctions.hash64
    val docs = linkGraphDocs(s, dir)
    val lt = graft.ops.LinkExtract.links(docs, "doc_id", "page_url",
      "html")
    val he = graft.ops.LinkExtract
      .hostEdges(lt, docs, "doc_id", "page_url")
    val hostIds = he.select(col("src_host").as("host"))
      .unionAll(he.select(col("dst_host").as("host")))
      .distinct()
      .select(col("host"), hash64(col("host"), 7).as("id"))
    val ranks = graft.ops.GraphStats.pageRank(
        he.select(hash64(col("src_host"), 7).as("src"),
          hash64(col("dst_host"), 7).as("dst")),
        "src", "dst", hostIds.select("id"), "id", iterations = 4)
      .join(hostIds, Seq("id"))
      .select(col("host"), col("rank_q"))
    val budgets = graft.ops.CrawlBudget.rankBudgets(
      ranks, "host", "rank_q", total)
    val frontier = table(s, dir, "documents").select(
      concat(col("source"), lit(".example")).as("host"),
      col("doc_id").as("id"),
      graft.ops.TextAnalysis.nTokensWhitespace(col("text"))
        .cast("long").as("cost"))
    (budgets, frontier)
  }

  /** DuckDB preamble shared by q401/q402: replays the construction
    * edges, the q393 PageRank arithmetic (4 unrolled iterations), the
    * integer quota split, and the per-host cumulative admission. */
  private def hostBudgetOracleCtes(total: Long): String = {
    val iterCtes = (1 to 4).map { i =>
      val prev = s"r${i - 1}"
      s"""d$i AS (SELECT coalesce(sum(q), 0) AS ds FROM $prev
          LEFT JOIN odeg ON odeg.src = $prev.id WHERE odeg.src IS NULL),
        c$i AS (SELECT e.dst AS id, sum(r.q // o.outdeg) AS insum
                FROM $prev r JOIN odeg o ON o.src = r.id
                JOIN e ON e.src = r.id GROUP BY 1),
        r$i AS (SELECT nd.id,
            (1000000000000 - (1000000000000 * 85) // 100)
              // (SELECT n FROM nn)
            + (85 * ((SELECT ds FROM d$i) // (SELECT n FROM nn)
                     + coalesce(c.insum, 0))) // 100 AS q
          FROM nd LEFT JOIN c$i c ON c.id = nd.id)"""
    }.mkString(",\n          ")
    s"""he AS (
          SELECT DISTINCT source || '.example' AS sh,
            CASE WHEN doc_id % 4 = 3
              THEN 'abs' || CAST(doc_id % 7 AS VARCHAR) || '.example'
              ELSE source || '.example' END AS dh
          FROM documents
          UNION
          SELECT DISTINCT source || '.example',
            'cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example'
          FROM documents),
        hosts AS (SELECT DISTINCT h AS host FROM (
          SELECT sh AS h FROM he UNION SELECT dh FROM he)),
        ids AS (SELECT host,
            ('0x' || substr(md5('7:' || host), 1, 15))::BIGINT AS id
          FROM hosts),
        e AS (SELECT DISTINCT i1.id AS src, i2.id AS dst
          FROM he JOIN ids i1 ON i1.host = he.sh
          JOIN ids i2 ON i2.host = he.dh),
        nd AS (SELECT id FROM ids),
        odeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM nd),
        r0 AS (SELECT id, 1000000000000 // (SELECT n FROM nn) AS q
               FROM nd),
        $iterCtes,
        ranks AS (SELECT ids.host, CAST(q AS BIGINT) AS rq
          FROM r4 JOIN ids ON ids.id = r4.id),
        tot AS (SELECT sum(rq) AS t FROM ranks),
        bud AS (SELECT host,
            CAST(($total * rq) // (SELECT t FROM tot) AS BIGINT)
              AS budget_q
          FROM ranks),
        fr AS (SELECT source || '.example' AS host, doc_id AS id,
            CAST(len(list_filter(string_split_regex(lower(text),
              '\\s+'), x -> length(x) > 0)) AS BIGINT) AS cost
          FROM documents),
        adm AS (SELECT f.host, f.id, f.cost, b.budget_q,
            sum(f.cost) OVER (PARTITION BY f.host ORDER BY f.id
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM fr f JOIN bud b USING (host))"""
  }

  /** AUTHORITY-WEIGHTED per-host crawl budgets on the gate
    * ([[graft.ops.CrawlBudget]] — r14 verdict task #5: q393's
    * PageRank × q260's greedy-prefix budget discipline). The REAL
    * extractor+resolver build the host graph, PageRank assigns
    * authority, the total fetch budget splits as exact integer
    * quotas (budget_h = total·rank div Σrank — floor truncation
    * documented and visible), and each host's frontier admits its
    * doc-ordered prefix within budget. Sink hosts (absN/cdnN) carry
    * budgets but no frontier — n_frontier 0 pins them. Oracle
    * replays construction edges, the unrolled PageRank, the quota
    * split, and the window admission. */
  val qHostBudget = Q(
    "q401_host_budget",
    (s, dir) => {
      val (budgets, frontier) = hostBudgetFrames(s, dir, 20000L)
      val admitted = graft.ops.CrawlBudget.admitByHostBudget(
        frontier, "host", "id", "cost", budgets, "host", "budget_q")
      val nf = frontier.groupBy("host")
        .agg(count(lit(1)).as("n_frontier"))
      val a2 = admitted.groupBy("host")
        .agg(count(lit(1)).as("n_admitted"),
          sum(col("cost")).as("cost_admitted"))
      budgets.join(nf, Seq("host"), "left")
        .join(a2, Seq("host"), "left")
        .select(col("host"), col("budget_q"),
          coalesce(col("n_frontier"), lit(0L)).as("n_frontier"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("cost_admitted"), lit(0L)).as("cost_admitted"))
        .orderBy("host")
    },
    Some(s"""WITH ${hostBudgetOracleCtes(20000L)},
        a2 AS (SELECT host, CAST(count(*) AS BIGINT) AS n_admitted,
            CAST(sum(cost) AS BIGINT) AS cost_admitted
          FROM adm WHERE cum <= budget_q GROUP BY 1),
        nf AS (SELECT host, CAST(count(*) AS BIGINT) AS n_frontier
          FROM fr GROUP BY 1)
      SELECT b.host, b.budget_q,
        coalesce(nf.n_frontier, 0) AS n_frontier,
        coalesce(a2.n_admitted, 0) AS n_admitted,
        coalesce(a2.cost_admitted, 0) AS cost_admitted
      FROM bud b
      LEFT JOIN nf ON nf.host = b.host
      LEFT JOIN a2 ON a2.host = b.host
      ORDER BY b.host"""))

  /** STREAMING authority-weighted admission on the gate
    * ([[graft.streaming.StreamingBudget.admitByBudgets]] — q401's
    * budgets as the STATIC side of a stream–static join, the frontier
    * as a two-batch ascending-id MemoryStream; state is one Long per
    * host, bounded by the host dimension). The admitted set and
    * running totals must equal the batch window contract — the same
    * oracle CTEs as q401, emitted row-level. */
  val qStreamingHostBudget = Q(
    "q402_streaming_host_budget",
    (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val (budgets, frontier) = hostBudgetFrames(s, dir, 20000L)
      val rows = frontier.as[(String, Long, Long)].collect().sortBy(_._2)
      val mem = MemoryStream[(String, Long, Long)]
      val src = mem.toDF.toDF("host", "id", "cost")
      val admitted = graft.streaming.StreamingBudget.admitByBudgets(
        src, "host", "id", "cost", budgets, "host", "budget_q")
      val sink = "graft_shb_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-shb-gate").toString
      val query = admitted.toDF.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val half = (rows.length + 1) / 2
        rows.grouped(math.max(1, half)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .select(col("source").as("host"), col("docId").as("id"),
          col("tokens").as("cost"), col("cumTokens").as("cum_cost"))
        .orderBy("host", "id")
    },
    Some(s"""WITH ${hostBudgetOracleCtes(20000L)}
      SELECT host, id, cost, CAST(cum AS BIGINT) AS cum_cost
      FROM adm WHERE cum <= budget_q ORDER BY host, id"""))

  /** CDC over the CURATED WEB CORPUS on the gate (r14 verdict task
    * #6 — the q363/q365 WARC→HTML curation front end's OUTPUT flows
    * through [[graft.ops.ContentChunk]] into q389's per-doc
    * duplication mass, so sub-document dedup is certified on
    * extractor text, not just the documents fixture; the curated
    * fixture re-serves warc bodies, so cross-doc shared chunks are
    * REAL and the twin asserts non-vacuousness at generation). Twin
    * chunks are the python CDC twin over the committed q355/q363
    * page twins; the oracle replays the q389 mass algebra in DuckDB
    * over that chunk table. */
  val qCuratedCdc = Q(
    "q403_curated_cdc",
    (s, _) => {
      def pagesOf(dir: String, off: Long) = {
        val arcs = s.read.format("binaryFile").load(dir)
          .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
            .cast("long").as("arc_id"), col("content"))
        graft.ops.Warc.curatedPages(arcs, "arc_id", "content").toDF()
          .select((col("id") * 100 + col("rec_idx") + off).as("doc_id"),
            col("text"))
      }
      val base = "/root/repo/src/test/resources/graft/sources"
      val pages = pagesOf(s"$base/warc", 0L)
        .unionAll(pagesOf(s"$base/warc_curated", 10000L))
      val ch = graft.ops.ContentChunk.chunkText(pages, "doc_id", "text",
        minSize = 16, avgBits = 5, maxSize = 96)
      graft.ops.ContentChunk.dupMass(pages, "doc_id", ch)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT * FROM
        '/root/repo/src/test/resources/graft/sources/curated_cdc_chunks_twin.parquet'),
      docs AS (SELECT arc_id*100 + rec_idx AS doc_id
          FROM '/root/repo/src/test/resources/graft/sources/warc_pages_twin.parquet'
        UNION ALL
        SELECT 10000 + arc_id*100 + rec_idx
          FROM '/root/repo/src/test/resources/graft/sources/warc_curated_twin.parquet'),
      d AS (SELECT chunk_hash, length, count(DISTINCT doc_id) AS nd
            FROM t GROUP BY 1, 2),
      j AS (SELECT t.doc_id, t.length, d.nd
            FROM t JOIN d USING (chunk_hash, length)),
      a AS (SELECT doc_id, CAST(sum(length) AS BIGINT) AS tot,
            CAST(sum(CASE WHEN nd > 1 THEN length ELSE 0 END) AS BIGINT)
              AS shared
            FROM j GROUP BY 1)
      SELECT docs.doc_id,
        COALESCE(a.tot, 0) AS total_bytes,
        COALESCE(a.shared, 0) AS shared_bytes,
        round(CASE WHEN a.tot > 0
          THEN a.shared / CAST(a.tot AS DOUBLE) ELSE 0.0 END, 6)
          AS dup_frac
      FROM docs LEFT JOIN a USING (doc_id)
      ORDER BY docs.doc_id"""))

  /** ANCHOR-TEXT RELEVANCE on the gate (r14 verdict stretch #9 —
    * q394's anchor field as a BM25 ranking signal fused with q292's
    * body BM25: the classic external-description signal, anchor text
    * written by LINKING pages). Construction: every document's page
    * links to target doc (d·31+7)%100 with a 3-token anchor
    * (t{d%13} t{d%11} c) — the REAL extractor collects the anchors,
    * targets aggregate them into an anchor FIELD, and both fields
    * score through the same [[graft.ops.Relevance.bm25TopK]] math
    * (body query hash/join/merge, anchor query t3/t7/c); combined =
    * 0.7·body + 0.3·anchor over rounded field scores, top 10. The
    * oracle replays extraction arithmetic (the q392 discipline),
    * both BM25 computations, and the fusion. */
  val qAnchorBm25 = Q(
    "q404_anchor_bm25",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val pages = docs.select(
        col("doc_id"),
        concat(lit("http://s"), (col("doc_id") % 10).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string"))
          .as("page_url"),
        concat(lit("<p>x</p><a href=\"http://t.example/d/"),
          ((col("doc_id") * 31 + 7) % 100).cast("string"), lit("\">"),
          concat(lit("t"), (col("doc_id") % 13).cast("string"),
            lit(" t"), (col("doc_id") % 11).cast("string"), lit(" c")),
          lit("</a><script>var a='<a href=\"http://decoy.example/x\">'"
            + ";</script>")).as("html"))
      val lt = graft.ops.LinkExtract.links(pages, "doc_id", "page_url",
        "html")
      val anchorDocs = lt.toDF()
        .where(col("resolved").rlike("^http://t\\.example/d/\\d+$"))
        .select(regexp_extract(col("resolved"), "/d/(\\d+)$", 1)
          .cast("long").as("t"), col("anchor"))
        .groupBy("t")
        .agg(concat_ws(" ", collect_list(col("anchor"))).as("atext"))
      val aScore = graft.ops.Relevance.bm25TopK(anchorDocs, "t",
          "atext", Seq("t3", "t7", "c"), k = 1000000)
        .withColumnRenamed("score", "anchor_score")
      val bScore = graft.ops.Relevance.bm25TopK(docs, "doc_id",
          "text", Seq("hash", "join", "merge"), k = 1000000)
        .withColumnRenamed("score", "body_score")
      val comb = anchorDocs.select(col("t"))
        .join(aScore, Seq("t"), "left")
        .join(bScore, col("t") === bScore("doc_id"), "left")
        .select(col("t").as("target_doc"),
          coalesce(col("body_score"), lit(0.0)).as("body_score"),
          coalesce(col("anchor_score"), lit(0.0)).as("anchor_score"))
        .withColumn("combined",
          round(lit(0.7) * col("body_score")
            + lit(0.3) * col("anchor_score"), 6))
      comb.withColumn("rnk", row_number().over(
          Window.orderBy(col("combined").desc, col("target_doc").asc))
          .cast("int"))
        .where(col("rnk") <= 10)
        .select(col("rnk"), col("target_doc"), col("body_score"),
          col("anchor_score"), col("combined"))
        .orderBy("rnk")
    },
    Some("""WITH src AS (SELECT doc_id AS d,
          (doc_id*31 + 7) % 100 AS t FROM documents),
      toks AS (SELECT t, w FROM (SELECT t,
          unnest(['t' || CAST(d % 13 AS VARCHAR),
                  't' || CAST(d % 11 AS VARCHAR), 'c']) AS w
        FROM src)),
      aqt AS (SELECT unnest(['t3', 't7', 'c']) AS w),
      atf AS (SELECT t, w, count(*) AS tf
        FROM toks JOIN aqt USING (w) GROUP BY 1, 2),
      adf AS (SELECT w, count(DISTINCT t) AS df_w FROM atf GROUP BY 1),
      adl AS (SELECT t, CAST(count(*) AS BIGINT) AS dl
        FROM toks GROUP BY 1),
      acorp AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM adl),
      ascored AS (SELECT atf.t,
          ln((n_docs - df_w + 0.5) / (df_w + 0.5) + 1.0) * tf
            * (1.2 + 1.0)
            / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS contrib
        FROM atf JOIN adf USING (w) JOIN adl ON adl.t = atf.t
        CROSS JOIN acorp),
      ascore AS (SELECT t, round(sum(contrib), 6) AS anchor_score
        FROM ascored GROUP BY 1),
      w AS (SELECT doc_id AS id,
          list_filter(string_split_regex(lower(text), '\s+'),
            x -> length(x) > 0) AS ws FROM documents),
      bdl AS (SELECT id, len(ws) AS dl FROM w),
      bcorp AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bdl),
      oc AS (SELECT id, unnest(ws) AS w FROM w),
      bqt AS (SELECT unnest(['hash', 'join', 'merge']) AS w),
      bdf AS (SELECT w, count(DISTINCT id) AS df_w
        FROM oc JOIN bqt USING (w) GROUP BY 1),
      btf AS (SELECT id, w, count(*) AS tf
        FROM oc JOIN bqt USING (w) GROUP BY 1, 2),
      bscored AS (SELECT id,
          ln((n_docs - df_w + 0.5) / (df_w + 0.5) + 1.0) * tf
            * (1.2 + 1.0)
            / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS contrib
        FROM btf JOIN bdf USING (w) JOIN bdl USING (id)
        CROSS JOIN bcorp),
      bscore AS (SELECT id, round(sum(contrib), 6) AS score
        FROM bscored GROUP BY id),
      tall AS (SELECT DISTINCT t FROM src),
      comb AS (SELECT tall.t AS target_doc,
          coalesce(b.score, 0) AS body_score,
          coalesce(a.anchor_score, 0) AS anchor_score,
          round(0.7 * coalesce(b.score, 0)
            + 0.3 * coalesce(a.anchor_score, 0), 6) AS combined
        FROM tall LEFT JOIN ascore a ON a.t = tall.t
        LEFT JOIN bscore b ON b.id = tall.t)
      SELECT CAST(row_number() OVER
          (ORDER BY combined DESC, target_doc) AS INT) AS rnk,
        target_doc, body_score, anchor_score, combined
      FROM comb ORDER BY combined DESC, target_doc LIMIT 10"""))

  /** RECRAWL change-rate estimation on the gate ([[graft.ops
    * .CrawlSchedule.changeRate]] — Cho & Garcia-Molina's
    * bias-corrected estimator λ̂ = −ln((n−X+0.5)/(n+0.5)), ACM TOIT
    * 2003: the scheduler signal for WHAT to refetch first). Corpus-
    * scale construction: every document gets a 6-fetch history whose
    * content hash increments on a deterministic (doc, interval)
    * pattern — the op must DETECT X from consecutive-hash comparison
    * (lag over the ts order), not read it; per-doc ts offsets keep
    * the history non-aligned. due_us derives from the ROUNDED λ̂ on
    * both sides (floor on both — Spark's double→long cast truncates,
    * DuckDB's rounds, so the oracle floors explicitly). */
  val qRecrawlRate = Q(
    "q405_recrawl_rate",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = table(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("i", explode(sequence(lit(0), lit(5))))
        .select(
          concat(lit("http://"), col("source"), lit(".example/d/"),
            col("doc_id").cast("string")).as("url"),
          ((col("doc_id") % 97) * 1000000L +
            col("i").cast("long") * 86400000000L).as("ts"),
          col("doc_id"), col("i"))
        .withColumn("c",
          when(col("i") >= 1 &&
            (col("doc_id") + lit(5) * col("i")) % 7 < 3, 1L)
            .otherwise(0L))
        .withColumn("ver", sum(col("c")).over(
          Window.partitionBy("url").orderBy("i")))
        .select(col("url"), col("ts"),
          concat(lit("h"), col("ver").cast("string")).as("hash"))
      graft.ops.CrawlSchedule.changeRate(hist, "url", "ts", "hash")
        .orderBy("url")
    },
    Some("""WITH h AS (SELECT
          'http://' || source || '.example/d/' || CAST(doc_id AS VARCHAR)
            AS url,
          (doc_id % 97) * 1000000 + i * 86400000000 AS ts,
          doc_id, i,
          CASE WHEN i >= 1 AND (doc_id + 5*i) % 7 < 3 THEN 1 ELSE 0 END
            AS c
        FROM documents, (SELECT unnest(range(6)) AS i)),
      v AS (SELECT url, ts,
          sum(c) OVER (PARTITION BY url ORDER BY i) AS ver FROM h),
      lg AS (SELECT url, ts, ver,
          lag(ver) OVER (PARTITION BY url ORDER BY ts) AS pv FROM v),
      agg AS (SELECT url, count(*) AS nf,
          sum(CASE WHEN pv IS NOT NULL AND ver <> pv THEN 1 ELSE 0 END)
            AS x,
          min(ts) AS t0, max(ts) AS t1 FROM lg GROUP BY 1),
      est AS (SELECT url, nf, x, t0, t1,
          round(CASE WHEN nf > 1 THEN
            -ln((nf - 1 - x + 0.5) / (nf - 1 + 0.5)) END, 8)
            AS lambda_hat
        FROM agg)
      SELECT url, CAST(nf AS BIGINT) AS n_fetches,
        CAST(x AS BIGINT) AS n_changes, lambda_hat,
        CASE WHEN lambda_hat > 0 THEN
          CAST(floor(t1 + ((t1 - t0) / CAST(nf - 1 AS DOUBLE))
            / lambda_hat) AS BIGINT) END AS due_us
      FROM est ORDER BY url"""))

  /** Per-host POLITENESS schedule on the gate ([[graft.ops
    * .CrawlSchedule.politenessSlots]] over the q400 pipeline's REAL
    * admission output — WHEN each admitted URL may fetch: one host's
    * requests are spaced delayUs apart on its own clock, hosts run in
    * parallel). The discover + admit stages run live (seeds →
    * frontier → RFC 9309); the oracle windows the committed urls twin
    * where allowed. */
  val qPolitenessSchedule = Q(
    "q406_politeness_schedule",
    (s, _) => {
      val base = "/root/repo/src/test/resources/graft/sources/" +
        "crawl_pipeline"
      val robots = s.read.format("binaryFile").load(s"$base/robots")
        .select(regexp_extract(col("path"), "([^/]+)\\.txt$", 1)
          .as("host"), col("content").cast("string").as("txt"))
      val seeds = graft.ops.Robots.sitemapSeeds(robots, "host", "txt")
      val blobs = s.read.format("binaryFile").load(s"$base/sitemaps")
        .select(concat(lit("http://"),
          regexp_replace(regexp_extract(col("path"), "([^/]+)$", 1),
            "--", "/")).as("sm_url"), col("content"))
      val pages = graft.ops.Sitemap.frontier(blobs, "sm_url", "content",
          seeds, "sm_url", maxDepth = 5)
        .select(col("loc"),
          regexp_extract(col("loc"), "^https?://([^/]+)", 1).as("host"),
          coalesce(nullif(regexp_extract(col("loc"),
            "^https?://[^/]*(/.*)?$", 1), lit("")), lit("/")).as("path"))
      val verdicts = graft.ops.Robots.crawlFilter(
        pages.withColumn("agent", lit("graftbot")),
        "host", "agent", "path", robots, "host", "txt")
      val admitted = pages.join(
          verdicts.select("host", "path", "allowed"), Seq("host", "path"))
        .where(col("allowed"))
      graft.ops.CrawlSchedule.politenessSlots(admitted, "host", "loc",
          delayUs = 1500000L)
        .orderBy("host", "slot")
    },
    Some("""SELECT host, loc AS url,
        CAST(row_number() OVER (PARTITION BY host ORDER BY loc) - 1
          AS INT) AS slot,
        CAST((row_number() OVER (PARTITION BY host ORDER BY loc) - 1)
          * 1500000 AS BIGINT) AS fetch_at_us
      FROM '/root/repo/src/test/resources/graft/sources/crawl_pipeline_urls_twin.parquet'
      WHERE allowed ORDER BY host, slot"""))

  /** STREAMING recrawl change-rate on the gate ([[graft.streaming
    * .StreamingRecrawl.changeRateUpdates]] — the online twin of q405:
    * fetch events update five scalars of per-URL state and each batch
    * emits the refreshed λ̂/due row, the live feed a continuous
    * crawler reprioritizes from). The q405 construction streams in
    * three ts-ordered batches (splits at fetch index 2 and 4) so
    * every URL's counts MERGE across batches and its last hash
    * crosses batch boundaries; the final emission per URL (all six
    * fetches seen) must equal the batch estimator — the two gates
    * share one oracle. */
  val qStreamingRecrawl = Q(
    "q407_streaming_recrawl",
    (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      import org.apache.spark.sql.expressions.Window
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val hist = table(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("i", explode(sequence(lit(0), lit(5))))
        .select(
          concat(lit("http://"), col("source"), lit(".example/d/"),
            col("doc_id").cast("string")).as("url"),
          ((col("doc_id") % 97) * 1000000L +
            col("i").cast("long") * 86400000000L).as("ts"),
          col("doc_id"), col("i"))
        .withColumn("c",
          when(col("i") >= 1 &&
            (col("doc_id") + lit(5) * col("i")) % 7 < 3, 1L)
            .otherwise(0L))
        .withColumn("ver", sum(col("c")).over(
          Window.partitionBy("url").orderBy("i")))
        .select(col("url"), col("ts"),
          concat(lit("h"), col("ver").cast("string")).as("hash"),
          col("i"))
        .as[(String, Long, String, Int)].collect()
      val mem = MemoryStream[(String, Long, String)]
      val src = mem.toDF.toDF("url", "ts", "hash")
      val updates = graft.streaming.StreamingRecrawl
        .changeRateUpdates(src, "url", "ts", "hash")
      val sink = "graft_srcr_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-srcr-gate").toString
      val query = updates.toDF.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        Seq(0 until 2, 2 until 4, 4 until 6).foreach { r =>
          mem.addData(hist.filter(h => r.contains(h._4))
            .map(h => (h._1, h._2, h._3)).toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt,
        s.table(sink).where(col("n_fetches") === 6))
        .select(col("url"), col("n_fetches"), col("n_changes"),
          col("lambda_hat"), col("due_us"))
        .orderBy("url")
    },
    Some("""WITH h AS (SELECT
          'http://' || source || '.example/d/' || CAST(doc_id AS VARCHAR)
            AS url,
          (doc_id % 97) * 1000000 + i * 86400000000 AS ts,
          doc_id, i,
          CASE WHEN i >= 1 AND (doc_id + 5*i) % 7 < 3 THEN 1 ELSE 0 END
            AS c
        FROM documents, (SELECT unnest(range(6)) AS i)),
      v AS (SELECT url, ts,
          sum(c) OVER (PARTITION BY url ORDER BY i) AS ver FROM h),
      lg AS (SELECT url, ts, ver,
          lag(ver) OVER (PARTITION BY url ORDER BY ts) AS pv FROM v),
      agg AS (SELECT url, count(*) AS nf,
          sum(CASE WHEN pv IS NOT NULL AND ver <> pv THEN 1 ELSE 0 END)
            AS x,
          min(ts) AS t0, max(ts) AS t1 FROM lg GROUP BY 1),
      est AS (SELECT url, nf, x, t0, t1,
          round(CASE WHEN nf > 1 THEN
            -ln((nf - 1 - x + 0.5) / (nf - 1 + 0.5)) END, 8)
            AS lambda_hat
        FROM agg)
      SELECT url, CAST(nf AS BIGINT) AS n_fetches,
        CAST(x AS BIGINT) AS n_changes, lambda_hat,
        CASE WHEN lambda_hat > 0 THEN
          CAST(floor(t1 + ((t1 - t0) / CAST(nf - 1 AS DOUBLE))
            / lambda_hat) AS BIGINT) END AS due_us
      FROM est ORDER BY url"""))

  /** Sub-document dedup RECLAIM on the gate ([[graft.ops.ContentChunk
    * .reclaim]] — the rewrite q389's dup-mass only measures: every
    * chunk content keeps its globally-first occurrence, documents are
    * rebuilt as kept-byte concatenations). The kept content certifies
    * through md5 over the RAW bytes (CDC boundaries may split
    * multibyte sequences — a decoded-string compare would drag in
    * replacement-char semantics). Fixture truths: doc 0 keeps all its
    * chunks, doc 1 drops the span it shares with doc 0, doc 5 keeps
    * one copy of its triple max-size repeat; empty/null docs rebuild
    * to the empty md5. Twin replays chunker + election + rebuild in
    * python. */
  val qCdcReclaim = Q(
    "q408_cdc_reclaim",
    (s, _) => {
      val docs = s.read.parquet("/root/repo/src/test/resources/graft/" +
        "sources/cdc_fixture.parquet")
      graft.ops.ContentChunk.reclaim(docs, "doc_id", "text",
          minSize = 16, avgBits = 5, maxSize = 96)
        .toDF()
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_kept"),
          col("total_bytes"), col("kept_bytes"),
          md5(col("kept_bin")).as("kept_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chunks, n_kept, total_bytes, kept_bytes,
        kept_md5
      FROM '/root/repo/src/test/resources/graft/sources/cdc_reclaim_twin.parquet'
      ORDER BY doc_id"""))

  /** REDIRECT-chain resolution on the gate ([[graft.ops.Redirects
    * .resolveChains]] — the seam between fetching and the canonical
    * frontier: every URL maps to the terminal location it serves
    * from, with exact hop counts and loop detection). Corpus-scale
    * construction: documents form 4-URL chains (position p redirects
    * to p−1, the group head is the terminal), and every 10th group's
    * head redirects BACK to its tail — a planted 4-cycle whose four
    * members must all read `loop_or_limit` with null final/hops.
    * Oracle: closed-form construction arithmetic. */
  val qRedirectResolve = Q(
    "q409_redirect_resolve",
    (s, dir) => {
      def u(c: org.apache.spark.sql.Column) =
        concat(lit("http://r.example/u/"), c.cast("string"))
      val docs = table(s, dir, "documents").select(col("doc_id"))
      val chainEdges = docs.where(col("doc_id") % 4 =!= 0)
        .select(u(col("doc_id")).as("src"),
          u(col("doc_id") - 1).as("dst"))
      val cycleEdges = docs.where(col("doc_id") % 4 === 0 &&
          (col("doc_id") / 4).cast("long") % 10 === 0)
        .select(u(col("doc_id")).as("src"),
          u(col("doc_id") + 3).as("dst"))
      val redirects = chainEdges.unionAll(cycleEdges)
      graft.ops.Redirects.resolveChains(redirects, "src", "dst",
          docs.select(u(col("doc_id")).as("url")), "url", maxHops = 8)
        .orderBy("url")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS p
        FROM documents)
      SELECT 'http://r.example/u/' || CAST(doc_id AS VARCHAR) AS url,
        CASE WHEN g % 10 = 0 THEN NULL
          ELSE 'http://r.example/u/' || CAST(g*4 AS VARCHAR) END
          AS final_url,
        CASE WHEN g % 10 = 0 THEN NULL ELSE CAST(p AS INT) END
          AS n_hops,
        CASE WHEN g % 10 = 0 THEN 'loop_or_limit' ELSE 'ok' END
          AS status
      FROM d ORDER BY url"""))

  /** The FETCH PLAN composed on the gate ([[graft.ops.CrawlSchedule
    * .dueSchedule]] over [[graft.ops.CrawlSchedule.changeRate]] —
    * what the scheduler actually emits: each host's due URLs at their
    * earliest FEASIBLE times under fetch_at(k) = max(due(k),
    * fetch_at(k−1)+delay), computed as the closed-form running max
    * delay·k + max_j(due(j)−delay·j) in exact integer arithmetic).
    * The q405 history construction feeds the real estimator; URLs
    * never observed changing (null due) schedule nothing. Oracle:
    * the q405 CTEs + the identical window recurrence. */
  val qFetchPlan = Q(
    "q410_fetch_plan",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = table(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("i", explode(sequence(lit(0), lit(5))))
        .select(
          concat(lit("http://"), col("source"), lit(".example/d/"),
            col("doc_id").cast("string")).as("url"),
          ((col("doc_id") % 97) * 1000000L +
            col("i").cast("long") * 86400000000L).as("ts"),
          col("doc_id"), col("i"))
        .withColumn("c",
          when(col("i") >= 1 &&
            (col("doc_id") + lit(5) * col("i")) % 7 < 3, 1L)
            .otherwise(0L))
        .withColumn("ver", sum(col("c")).over(
          Window.partitionBy("url").orderBy("i")))
        .select(col("url"), col("ts"),
          concat(lit("h"), col("ver").cast("string")).as("hash"))
      val rate = graft.ops.CrawlSchedule
        .changeRate(hist, "url", "ts", "hash")
        .where(col("due_us").isNotNull)
        .withColumn("host",
          regexp_extract(col("url"), "^https?://([^/]+)", 1))
      graft.ops.CrawlSchedule.dueSchedule(rate, "host", "url",
          "due_us", delayUs = 8000000L)
        .orderBy("host", "slot")
    },
    Some("""WITH h AS (SELECT
          'http://' || source || '.example/d/' || CAST(doc_id AS VARCHAR)
            AS url,
          (doc_id % 97) * 1000000 + i * 86400000000 AS ts,
          doc_id, i,
          CASE WHEN i >= 1 AND (doc_id + 5*i) % 7 < 3 THEN 1 ELSE 0 END
            AS c
        FROM documents, (SELECT unnest(range(6)) AS i)),
      v AS (SELECT url, ts,
          sum(c) OVER (PARTITION BY url ORDER BY i) AS ver FROM h),
      lg AS (SELECT url, ts, ver,
          lag(ver) OVER (PARTITION BY url ORDER BY ts) AS pv FROM v),
      agg AS (SELECT url, count(*) AS nf,
          sum(CASE WHEN pv IS NOT NULL AND ver <> pv THEN 1 ELSE 0 END)
            AS x,
          min(ts) AS t0, max(ts) AS t1 FROM lg GROUP BY 1),
      est AS (SELECT url, nf, x, t0, t1,
          round(CASE WHEN nf > 1 THEN
            -ln((nf - 1 - x + 0.5) / (nf - 1 + 0.5)) END, 8)
            AS lambda_hat
        FROM agg),
      due AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1)
            AS host, url,
          CAST(floor(t1 + ((t1 - t0) / CAST(nf - 1 AS DOUBLE))
            / lambda_hat) AS BIGINT) AS due_us
        FROM est WHERE lambda_hat > 0),
      sl AS (SELECT host, url, due_us,
          CAST(row_number() OVER (PARTITION BY host
            ORDER BY due_us, url) - 1 AS INT) AS slot
        FROM due),
      adj AS (SELECT *, due_us - 8000000*slot AS a FROM sl)
      SELECT host, url, due_us, slot,
        CAST(8000000*slot + max(a) OVER (PARTITION BY host
          ORDER BY due_us, url ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS fetch_at_us
      FROM adj ORDER BY host, slot"""))

  /** FULL-package DOCX extraction on the gate ([[graft.ops
    * .DocxExtract.extractFull]]): q357 certifies body text, and the
    * r12 verdict recorded "body only" as a documented boundary — this
    * closes it: headers (file-name order pinned by two differing
    * headers), footers, and footnotes including the separator /
    * continuationSeparator stubs that must contribute nothing; a
    * header-less doc yields empty strings, not nulls. Constructed
    * fixtures, twin verbatim (the q357 discipline). */
  val qDocxFull = Q(
    "q378_docx_full",
    (s, _) => {
      val docs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/docx_full")
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.docx", 1)
          .cast("long").as("doc_id"), col("content"))
      graft.ops.DocxExtract.docxToTextFull(docs, "doc_id", "content")
        .toDF()
        .select(col("id").as("doc_id"), col("body"), col("header_text"),
          col("footer_text"), col("footnotes_text"),
          col("n_paragraphs"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, body, header_text, footer_text,
        footnotes_text, n_paragraphs
      FROM '/root/repo/src/test/resources/graft/sources/docx_full_twin.parquet'
      ORDER BY doc_id"""))

  /** TIFF pixel decode on the gate ([[graft.ops.MediaCodec
    * .decodeTiffGray]] — the JDK ImageIO TIFF plugin as the seam,
    * like q344's JPEG): the committed TIFFs are LOSSLESS gray
    * re-encodes of fixture pixels (scripts/GenTiffFixture.java,
    * pixel-exact round trip asserted at generation), so the gate is
    * EXACT — decoded dims and dHash equal the independent python twin
    * bit-for-bit, and the oracle derives the id set from the
    * committed files (a dropped decode fails on row count). */
  val qTiffDHash = Q(
    "q359_tiff_dhash",
    (s, _) => {
      val tp = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images_tiff")
        .select(
          (regexp_extract(col("path"), "img_(\\d+)\\.tiff", 1)
            .cast("long") - 600).as("img_id"), col("content"))
      graft.ops.Multimodal.imageDHash(tp, "img_id", "content").toDF()
        .select(col("id").as("img_id"), col("width"), col("height"),
          col("dhash"))
        .orderBy("img_id")
    },
    Some("""WITH j AS (SELECT
        CAST(regexp_extract(file, 'img_(\d+)\.tiff', 1) AS BIGINT) - 600
          AS img_id
      FROM glob('/root/repo/src/test/resources/graft/sources/images_tiff/*.tiff'))
      SELECT t.img_id, t.width, t.height, t.dhash
      FROM '/root/repo/src/test/resources/graft/sources/images_twin.parquet' t
      JOIN j USING (img_id)
      ORDER BY img_id"""))

  /** STREAMING web ingestion on the gate: [[graft.ops.Warc
    * .htmlPages]] is map-only (container walk + HTML state machine,
    * no state, no shuffle), so it runs UNCHANGED inside a Structured
    * Streaming micro-batch — the batch/streaming symmetry of the
    * ingestion front end, with archives arriving one per micro-batch
    * as a crawl delivers them. Same oracle as q356: the streamed
    * two-batch result must equal the batch replay exactly. */
  val qStreamingWarc = Q(
    "q360_streaming_warc_pages",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val arcs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/warc")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, Array[Byte])]
      val src = mem.toDF.toDF("arc_id", "content")
      val pages = graft.ops.Warc.htmlPages(src, "arc_id", "content")
      val sink = "graft_swarc_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-swarc-gate").toString
      val query = pages.toDF.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        arcs.foreach { a =>
          mem.addData(Seq(a))
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .select(col("id").as("arc_id"), col("rec_idx"), col("url"),
          col("text"), col("n_links"))
        .orderBy("arc_id", "rec_idx")
    },
    Some("""SELECT arc_id, rec_idx, url, text, n_links
      FROM '/root/repo/src/test/resources/graft/sources/warc_pages_twin.parquet'
      ORDER BY arc_id, rec_idx"""))

  /** WARC truncation LEDGER on the gate ([[graft.ops.Warc.ledger]]):
    * the no-silent-caps contract for the web-ingestion front door
    * (verdict r12 #3 — a real Common Crawl archive inflates past any
    * hostile-bytes cap, and before this ledger the scan just stopped,
    * dropping >90% of records invisibly). One planted archive per
    * class: clean, record-cap bite, inflate-cap bite (gz inflating
    * past the cap), torn tail, the NON-NUMERIC Content-Length that
    * used to throw-and-drop-all (ADVICE r12), and pure garbage. The
    * gate uses SMALL caps (4096 bytes / 3 records) so the bites are
    * committable; production keeps 64 MiB / 100k. Twin rows are
    * construction arithmetic (member byte offsets the generator laid
    * down) — no parser duplicated. */
  val qWarcTruncLedger = Q(
    "q361_warc_trunc_ledger",
    (s, _) => {
      val arcs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/warc_trunc")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
      graft.ops.Warc.ledger(arcs, "arc_id", "content",
          maxInflate = 4096, maxRecords = 3).toDF()
        .select(col("id").as("arc_id"), col("n_records"),
          col("truncated"), col("reason"))
        .orderBy("arc_id")
    },
    Some("""SELECT arc_id, n_records, truncated, reason
      FROM '/root/repo/src/test/resources/graft/sources/warc_trunc_twin.parquet'
      ORDER BY arc_id"""))

  /** STREAMING curation front door (verdict r12 #6): WARC → byte-
    * sniffed charset → charset-aware decode → HTML extract → quality
    * columns, ALL inside one Structured Streaming micro-batch
    * ([[graft.ops.Warc.curatedPages]] is map-only, and the quality
    * signals are ordinary codegen'd Column expressions on top). The
    * fixtures plant all four common charsets — ascii, multibyte
    * utf-8, utf-8-BOM, and the latin-1 crawl tail a utf-8-blind
    * decode mangles (q356's htmlPages would emit U+FFFD for 0xE9) —
    * plus a 404 and a non-HTML 200 the filter must drop. Archives
    * arrive one per micro-batch; the twin composes the CPython strict
    * decoder (charset), the independent HTML extractor, and per-
    * charset decode; quality columns come from the q29-certified
    * DuckDB expressions over the twin text. */
  val qStreamingCuration = Q(
    "q363_streaming_curation",
    (s, _) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val arcs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/warc_curated")
        .select(regexp_extract(col("path"), "arc_(\\d+)\\.warc", 1)
          .cast("long").as("arc_id"), col("content"))
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val mem = MemoryStream[(Long, Array[Byte])]
      val src = mem.toDF.toDF("arc_id", "content")
      val sig = graft.ops.TextAnalysis.qualitySignals(col("text"))
      val curated = graft.ops.Warc.curatedPages(src, "arc_id", "content")
        .toDF()
        .select(col("id"), col("rec_idx"), col("url"), col("charset"),
          col("text"), col("n_links"),
          sig("n_chars").as("n_chars"), sig("n_words").as("n_words"),
          sig("punct_ratio").as("punct_ratio"),
          graft.ops.TextAnalysis.qualityScore(col("text"))
            .as("quality_score"))
      val sink = "graft_scur_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-scur-gate").toString
      val query = curated.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        arcs.foreach { a =>
          mem.addData(Seq(a))
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .select(col("id").as("arc_id"), col("rec_idx"), col("url"),
          col("charset"), col("text"), col("n_links"), col("n_chars"),
          col("n_words"), col("punct_ratio"), col("quality_score"))
        .orderBy("arc_id", "rec_idx")
    },
    Some("""WITH t AS (SELECT *,
        list_filter(string_split_regex(lower(text), '\s+'),
          x -> length(x) > 0) AS ws
      FROM '/root/repo/src/test/resources/graft/sources/warc_curated_twin.parquet')
      SELECT arc_id, rec_idx, url, charset, text, n_links,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(ws) AS BIGINT) AS n_words,
        round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
          AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        round(greatest(0.0,
          least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
          (CASE WHEN round(CAST(list_sum(list_transform(ws,
             w -> length(w))) AS DOUBLE) / greatest(len(ws), 1), 6)
             BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3 +
          (1.0 - least(round(CAST(len(regexp_extract_all(text,
             '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1),
             6) * 2.0, 1.0)) * 0.2 +
          (1.0 - least(round(CAST(len(regexp_extract_all(text, '[0-9]'))
             AS DOUBLE) / greatest(length(text), 1), 6) * 2.0, 1.0))
             * 0.1), 6) AS quality_score
      FROM t ORDER BY arc_id, rec_idx"""))

  /** POSITIONED PDF extraction on the gate ([[graft.ops.PdfExtract
    * .pdfToTextPositioned]], verdict r12 #7): q354's subset emits
    * strings in STREAM order, and a two-column page interleaves its
    * columns (L1 R1 L2 R2 …) — this gate's fixtures write exactly that
    * interleaving with explicit Tm/Td/TD/TL/T* positioning, and the
    * twin pins the READING order from the coordinates the generator
    * chose (never parsing its own output). Planted: two-column
    * reassembly, TD-leading + T* line advance, an indent that must NOT
    * become a column, same-line space-vs-concat join rules, two
    * compressed two-column pages, TL + ' advance. */
  val qPdfColumns = Q(
    "q364_pdf_columns",
    (s, _) => {
      val docs = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/pdfs_columns")
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.pdf", 1)
          .cast("long").as("doc_id"), col("content"))
      graft.ops.PdfExtract.pdfToTextPositioned(docs, "doc_id", "content")
        .toDF()
        .select(col("id").as("doc_id"), col("text"), col("n_pages"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, text, n_pages
      FROM '/root/repo/src/test/resources/graft/sources/pdf_columns_twin.parquet'
      ORDER BY doc_id"""))

  /** The COMPOSED WARC → HTML pipeline at CORPUS scale (verdict r12
    * #5): q356 certifies the front end on committed archives, but a
    * fixture-bound row cannot grow with the stress dir — and the
    * WARC walk + per-record gzip inflate + HTML extraction is what a
    * real ingestion run hammers. This row synthesizes Common-Crawl-
    * layout archives AT RUNTIME from `documents` — each partition
    * batches ~64 docs into one archive of per-record-GZIPPED members
    * (JDK GZIPOutputStream), each member a WARC response record
    * wrapping the exact q353 markup — then runs the REAL
    * [[graft.ops.Warc.parseArchive]] + HTML extractor and gates
    * md5(text) + n_links per document. Map-only (batching is
    * partition-local; every output row depends only on its own doc),
    * so the 10× stress reading measures the operator, not a shuffle.
    * Oracle: the q353 replay (escape→decode round-trips; WARC/gzip
    * framing is the generator's own and must round-trip exactly). */
  val qWarcScale = Q(
    "q366_warc_scale",
    (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .as[(Long, String, String)]
      val pages = docs.mapPartitions { it =>
        def escHtml(v: String) = v.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        it.grouped(64).flatMap { batch =>
          val bos = new java.io.ByteArrayOutputStream(1 << 16)
          batch.foreach { case (id, text, source) =>
            val html = "<p>" + escHtml(Option(text).getOrElse("")) +
              "</p><ul><li><a href=\"#\">" +
              escHtml(Option(source).getOrElse("")) +
              "</a></li></ul>"
            val body = html.getBytes(
              java.nio.charset.StandardCharsets.UTF_8)
            val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html" +
              s"\r\nContent-Length: ${body.length}\r\n\r\n").getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val payload = http ++ body
            val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://synth/$id\r\n" +
              s"Content-Length: ${payload.length}\r\n\r\n").getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1) ++
              payload ++ "\r\n\r\n".getBytes(
                java.nio.charset.StandardCharsets.ISO_8859_1)
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(rec)
            gz.close() // one gzip MEMBER per record; BAOS close is a no-op
          }
          graft.ops.Warc.parseArchive(bos.toByteArray).records
            .filter(r => r.rec_type == "response" &&
              r.http_status == 200 && r.content_type == "text/html")
            .map { r =>
              val htmlBack = new String(r.body,
                java.nio.charset.StandardCharsets.UTF_8)
              val (text, links) =
                graft.ops.HtmlExtract.extractText(htmlBack)
              (r.url.stripPrefix("http://synth/").toLong, text, links)
            }
        }
      }.toDF("doc_id", "text", "n_links")
      pages.select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_links"))
        .orderBy("doc_id")
    },
    Some("""WITH cl AS (SELECT doc_id,
        array_to_string(list_filter(list_transform(
          string_split(text, chr(10)),
          x -> trim(regexp_replace(x, '[ \t\r\x0B\x0C]+', ' ', 'g'))),
          y -> y <> ''), chr(10)) AS ct,
        trim(regexp_replace(source, '[ \t\r\x0B\x0C]+', ' ', 'g')) AS cs
      FROM documents)
      SELECT doc_id,
        md5(CASE WHEN ct = '' THEN cs
                 WHEN cs = '' THEN ct
                 ELSE ct || chr(10) || cs END) AS text_md5,
        CAST(1 AS INT) AS n_links
      FROM cl ORDER BY doc_id"""))

  /** dHash BANDING at corpus scale: q340–q342 certify the pixel path
    * on the committed fixture, but the band join is the part that has
    * to survive 100 TB — and a fixture-bound row cannot scale with the
    * stress dir. This row derives a deterministic 64-bit pseudo-dHash
    * per document from doc_id ALONE (pure mod arithmetic, replicated
    * term-for-term in the DuckDB oracle, which re-finds every pair by
    * BRUTE all-pairs — recall certified, not just precision), plants
    * exact (hamming 0) and near (hamming 1) duplicate pairs on ids
    * ≡ 0,1 (mod 26), and rolls the pair stream up to a hamming
    * histogram with id checksums. Scales with the documents table →
    * the stress table's image-family row (verdict r11 #7). */
  val qDhashScale = Q(
    "q347_dhash_scale",
    (s, dir) => {
      val h = table(s, dir, "documents")
        .select(col("doc_id"), expr("CASE WHEN doc_id % 26 < 2 THEN " +
          "doc_id - doc_id % 2 ELSE doc_id END").as("k"))
        .select(col("doc_id"),
          ((expr("(k+0)*7919 % 65536") +
            shiftleft(expr("(k+1)*104729 % 65536"), 16) +
            shiftleft(expr("(k+2)*1299709 % 65536"), 32) +
            shiftleft(expr("(k+3)*15485863 % 32768"), 48))
            .bitwiseXOR(expr("CAST(CASE WHEN doc_id % 26 = 1 AND " +
              "(doc_id div 26) % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)")))
            .as("h"))
      graft.ops.Multimodal.dhashNearDupPairs(h, "doc_id", "h", 3,
        Int.MaxValue)
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("i")).as("sum_i"), sum(col("j")).as("sum_j"))
        .orderBy("hamming")
    },
    Some("""WITH k AS (SELECT doc_id,
        CASE WHEN doc_id % 26 < 2 THEN doc_id - doc_id % 2
             ELSE doc_id END AS kk,
        CASE WHEN doc_id % 26 = 1 AND (doc_id // 26) % 2 = 0
             THEN 1 ELSE 0 END AS flip
      FROM documents),
      h AS (SELECT doc_id,
        xor((kk+0)*7919 % 65536
          + ((kk+1)*104729 % 65536) * 65536
          + ((kk+2)*1299709 % 65536) * 4294967296
          + ((kk+3)*15485863 % 32768) * 281474976710656,
          CAST(flip AS BIGINT)) AS h
      FROM k),
      p AS (SELECT a.doc_id AS i, b.doc_id AS j,
          bit_count(xor(a.h, b.h)) AS hm
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3)
      SELECT CAST(hm AS INT) AS hamming, count(*) AS n_pairs,
        CAST(sum(i) AS BIGINT) AS sum_i, CAST(sum(j) AS BIGINT) AS sum_j
      FROM p GROUP BY hm ORDER BY hamming"""))

  /** JPEG pixel decode joins the perceptual-hash pipeline through the
    * JDK's own baseline decoder ([[graft.ops.MediaCodec
    * .decodeJpegGray]] — javax.imageio as the decode seam, per the
    * reference's PIL reads in `summary_helpers_image.py:15-40`): each
    * committed JPEG is a quality-0.95 grayscale re-encode of fixture
    * image id−200's pixels (scripts/GenJpegFixture.java, which shares
    * no code with the Scala path and asserts ≤ 2-bit round-trip margin
    * at generation). The gate: the Spark-side JPEG decode → luma →
    * dHash must land within hamming ≤ 3 of the INDEPENDENT python twin
    * hash of the pre-encoding pixels, and the decoded dimensions must
    * equal the twin's — certifying the ImageIO seam end-to-end against
    * ground truth that never passed through it. The oracle derives the
    * kept fixture ids from the committed files themselves (glob), so a
    * silently-dropped (undecodable) JPEG is a row-count FAIL, not a
    * quiet pass. */
  val qJpegDHash = Q(
    "q344_jpeg_dhash",
    (s, _) => {
      val jp = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images_jpeg")
        .select(
          (regexp_extract(col("path"), "img_(\\d+)\\.jpg", 1)
            .cast("long") - 200).as("img_id"), col("content"))
      val jh = graft.ops.Multimodal.imageDHash(jp, "img_id", "content")
        .toDF()
        .select(col("id").as("img_id"), col("width"), col("height"),
          col("dhash").as("jhash"))
      val twin = s.read.parquet(
        "/root/repo/src/test/resources/graft/sources/images_twin.parquet")
        .select(col("img_id"), col("dhash").as("thash"))
      jh.join(twin, "img_id")
        .select(col("img_id"), col("width"), col("height"),
          (bit_count(col("jhash").bitwiseXOR(col("thash"))) <= 3)
            .as("within3"))
        .orderBy("img_id")
    },
    Some("""WITH j AS (SELECT
        CAST(regexp_extract(file, 'img_(\d+)\.jpg', 1) AS BIGINT) - 200
          AS img_id
      FROM glob('/root/repo/src/test/resources/graft/sources/images_jpeg/*.jpg'))
      SELECT t.img_id, t.width, t.height, true AS within3
      FROM '/root/repo/src/test/resources/graft/sources/images_twin.parquet' t
      JOIN j USING (img_id)
      ORDER BY img_id"""))

  /** COLOR JPEG through the dHash pipeline (verdict r12 #4): real
    * image corpora are chroma-subsampled color JPEG — the dominant
    * case — and q344's fixtures are grayscale re-encodes, so the
    * color branch of the luma collapse (r≠g≠b through getRGB →
    * (299r+587g+114b)/1000) had no oracle row. The committed fixtures
    * are 4:2:0 color JPEGs (subsampling ASSERTED from the SOF marker
    * by scripts/GenColorJpegFixture.java at write time) of smooth
    * color sources whose twin hashes come from the PRE-ENCODING RGB
    * arrays (scripts/gen_color_image_fixture.py, independent python);
    * planted color near-dup pairs ride along (330/332 perturb
    * 300/302). Gate: Spark decode + luma dHash within hamming ≤ 3 of
    * the twin, per image — same tolerance discipline as q344. */
  val qColorJpegDHash = Q(
    "q362_color_jpeg_dhash",
    (s, _) => {
      val jp = s.read.format("binaryFile")
        .load("/root/repo/src/test/resources/graft/sources/images_jpeg_color")
        .select(
          (regexp_extract(col("path"), "img_(\\d+)\\.jpg", 1)
            .cast("long") - 300).as("img_id"), col("content"))
      val jh = graft.ops.Multimodal.imageDHash(jp, "img_id", "content")
        .toDF()
        .select(col("id").as("img_id"), col("width"), col("height"),
          col("dhash").as("jhash"))
      val twin = s.read.parquet(
        "/root/repo/src/test/resources/graft/sources/images_color_twin.parquet")
        .select(col("img_id"), col("dhash").as("thash"))
      jh.join(twin, "img_id")
        .select(col("img_id"), col("width"), col("height"),
          (bit_count(col("jhash").bitwiseXOR(col("thash"))) <= 3)
            .as("within3"))
        .orderBy("img_id")
    },
    Some("""WITH j AS (SELECT
        CAST(regexp_extract(file, 'img_(\d+)\.jpg', 1) AS BIGINT) - 300
          AS img_id
      FROM glob('/root/repo/src/test/resources/graft/sources/images_jpeg_color/*.jpg'))
      SELECT t.img_id, t.width, t.height, true AS within3
      FROM '/root/repo/src/test/resources/graft/sources/images_color_twin.parquet' t
      JOIN j USING (img_id)
      ORDER BY img_id"""))

  val all: Seq[Q] = Seq(
    qStataRoundTrip, qXptScan, qSasScan, qSasRleScan, qSasDates,
    qImageDHash, qImageNearDup, qImageDedupClusters, qAudioStats,
    qDhashScale, qJpegDHash, qAudioChannelStats, qStreamingImageDedup,
    qGifDHash, qAudioSpectral, qVideoFrames, qHtmlExtract,
    qEncodingDetect, qHtmlScale, qPdfExtract, qWarcRecords, qWarcPages,
    qDocxExtract, qCodeMetrics, qTiffDHash, qStreamingWarc,
    qWarcTruncLedger, qColorJpegDHash, qStreamingCuration, qPdfColumns,
    qWarcScale, qStreamingCodeMetrics, qAvroScan, qAvroRoundTrip,
    qRobotsFilter, qByteBpe, qWarcZstd, qByteBpeScale,
    qStreamingRobotsGate, qSitemapScan, qDocxFull, qSitemapFrontier,
    qStreamingRobotsRefresh, qLineRepetition, qPackConcat, qPackNextFit,
    qCdcChunks, qCdcScale, qCrawlAdmission, qBpeRoundTrip,
    qRobotsSitemapSeeds, qCdcDupMass, qStreamingChunkNovelty,
    qHtmlLinks, qLinkGraphScale, qHostPageRank, qAnchorIndex,
    qUrlCanonicalize, qCanonicalTargets, qUrlDedupCanonical,
    qStreamingChunkTtl, qAvroComplex, qCrawlPipeline,
    qHostBudget, qStreamingHostBudget, qCuratedCdc, qAnchorBm25,
    qRecrawlRate, qPolitenessSchedule, qStreamingRecrawl, qCdcReclaim,
    qRedirectResolve, qFetchPlan,
    qDustRules, qConditionalFetch, qCrawlTraps, qDustApply,
    qTrapBudget, qStreamingRevalidation, qSitemapStaleness,
    qRobotsDelaySchedule, qFrontierKey, qAdaptiveDelay,
    qHostMirrors, qCircuitBreaker, qStreamingBreaker, qSoft404,
    qStreamingTrapScreen, qRegistrableDomain, qDomainPoliteness,
    qHostTemplate, qHits, qCalibrationBins, qCalibrationEce,
    qBradleyTerry, qCohenKappa, qFleissKappa, qRankingMetrics,
    qPrCurve, qKrippendorff,
    qUrlStats, qPathStats, qJsonExtract, qScatter2d, qNullityCorr,
    qExtremeObs, qHashSample, qMemoryEstimate, qKendall, qKendallExact,
    qMapValueCounts,
    qSaltedJoin, qCsvScan, qJsonlScan, qOrcScan, qObserveMetrics,
    qVariantExtract, qStratifiedSample,
    qApproxTopK, qStataScan, qExcelScan,
    qGroupedQuantiles, qEmbedCovariance, qUrlDedup, qIncrementalMerge,
    qEquiDepth, qWeightedSample, qTopMass, qBenford, qEntropy, qKsDrift,
    qPsiDrift, qPcaPower)

  /** PSI drift score ([[graft.ops.Drift.psi]]) over the same slice
    * split as q83 — fixed-width bins on pure-IEEE arithmetic, Laplace
    * smoothing so the score is defined (and deterministic) with empty
    * bins. */
  lazy val qPsiDrift = Q(
    "q84_psi_drift",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      graft.ops.Drift.psi(
        li.where(col("l_orderkey") % 2 === 0),
        li.where(col("l_orderkey") % 2 === 1),
        "l_quantity", bins = 10)
    },
    Some("""WITH u AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
          l_orderkey % 2 AS s FROM lineitem WHERE l_quantity IS NOT NULL),
      st AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
      bb AS (SELECT CAST(least(floor((v - mn) / ((mx - mn) / 10)), 9)
          AS INT) AS bin, s FROM u, st),
      m AS (SELECT bin,
          count(CASE WHEN s = 0 THEN 1 END) AS c1,
          count(CASE WHEN s = 1 THEN 1 END) AS c2
        FROM bb GROUP BY bin),
      t AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1,
          CAST(sum(c2) AS DOUBLE) AS n2 FROM m)
      SELECT round(sum(((c1 + 0.5) / (n1 + 5.0) - (c2 + 0.5) / (n2 + 5.0))
          * ln(((c1 + 0.5) / (n1 + 5.0)) / ((c2 + 0.5) / (n2 + 5.0)))), 8)
          AS psi,
        CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
      FROM m CROSS JOIN t GROUP BY n1, n2"""))

  /** DUST parameter-rule mining on the gate ([[graft.ops.Dust
    * .paramRules]] — Bar-Yossef et al., WWW 2007: a query parameter
    * is droppable on a host when every URL carrying it serves
    * byte-identical content to the same URL without it). Corpus-scale
    * construction over documents: `sess` is planted as pure noise
    * (stripping it always lands on an existing URL with the SAME
    * hash — from both 1-param and 2-param spellings), `page` is
    * planted as load-bearing (stripping it lands on the base page
    * with a DIFFERENT hash), and 2-param rows exercise
    * order-preserving single-param stripping plus the no-evidence
    * path (stripped spelling absent from the crawl is never
    * counted). Oracle: an independent DuckDB implementation of the
    * mining — range-explode over the split param list, list-slice
    * reconstruction, self-join on the stripped spelling. */
  lazy val qDustRules = Q(
    "q411_dust_rules",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 120).as("pid"))
      def base(c: org.apache.spark.sql.Column*) =
        concat((Seq(lit("http://"), col("source"), lit(".example/p/"),
          col("pid").cast("string")) ++ c): _*)
      val bhash = concat(lit("h-"), col("source"), lit("-"),
        col("pid").cast("string"))
      val crawl = d.select(base().as("url"), bhash.as("hash")).distinct()
        .unionAll(d.where(col("doc_id") % 3 === 0)
          .select(base(lit("?sess="), col("doc_id").cast("string"))
            .as("url"), bhash.as("hash")))
        .unionAll(d.where(col("doc_id") % 5 === 0)
          .select(base(lit("?page=2")).as("url"),
            concat(bhash, lit("-v2")).as("hash")).distinct())
        .unionAll(d.where(col("doc_id") % 7 === 0)
          .select(base(lit("?page=2&sess="), col("doc_id").cast("string"))
            .as("url"), concat(bhash, lit("-v2")).as("hash")))
      graft.ops.Dust.paramRules(crawl, "url", "hash", minSupport = 2)
        .orderBy("host", "param")
    },
    Some("""WITH d AS (SELECT doc_id, source, doc_id % 120 AS pid
          FROM documents),
      crawl AS (
        SELECT DISTINCT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) AS url,
          'h-' || source || '-' || CAST(pid AS VARCHAR) AS hash FROM d
        UNION ALL
        SELECT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) || '?sess=' || CAST(doc_id AS VARCHAR),
          'h-' || source || '-' || CAST(pid AS VARCHAR)
          FROM d WHERE doc_id % 3 = 0
        UNION ALL
        SELECT DISTINCT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) || '?page=2',
          'h-' || source || '-' || CAST(pid AS VARCHAR) || '-v2'
          FROM d WHERE doc_id % 5 = 0
        UNION ALL
        SELECT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) || '?page=2&sess=' ||
            CAST(doc_id AS VARCHAR),
          'h-' || source || '-' || CAST(pid AS VARCHAR) || '-v2'
          FROM d WHERE doc_id % 7 = 0),
      rows_ AS (SELECT DISTINCT url, hash FROM crawl),
      wq AS (SELECT url, hash, instr(url, '?') AS qp FROM rows_
        WHERE instr(url, '?') > 0),
      parsed AS (SELECT url, hash, substring(url, 1, qp - 1) AS pre,
          string_split(substring(url, qp + 1), '&') AS params FROM wq),
      expl AS (SELECT url, hash, pre, params, CAST(gs.i AS INT) AS pos
        FROM parsed, (SELECT unnest(range(1, 11)) AS i) gs
        WHERE gs.i <= len(params)),
      cand AS (SELECT
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)
            AS host,
          string_split(params[pos], '=')[1] AS param, hash,
          CASE WHEN len(params) = 1 THEN pre
            ELSE pre || '?' || array_to_string(
              list_concat(params[1:pos-1], params[pos+1:]), '&') END
            AS stripped
        FROM expl),
      ev AS (SELECT c.host, c.param, c.hash, r.hash AS thash
        FROM cand c JOIN rows_ r ON c.stripped = r.url)
      SELECT host, param, count(*) AS n_evidence,
        CAST(sum(CASE WHEN hash = thash THEN 1 ELSE 0 END) AS BIGINT)
          AS n_support,
        CAST(sum(CASE WHEN hash <> thash THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violation,
        (sum(CASE WHEN hash = thash THEN 1 ELSE 0 END) >= 2 AND
         sum(CASE WHEN hash <> thash THEN 1 ELSE 0 END) = 0) AS safe
      FROM ev GROUP BY 1, 2 ORDER BY host, param"""))

  /** DUST rule APPLICATION on the gate ([[graft.ops.Dust
    * .applyRules]] — the mining's payoff: canonicalize the frontier
    * WITHOUT fetching by dropping every param the crawl proved
    * content-free). Composes q411's mining with its own crawl as the
    * frontier: `sess` is safe on every host, so `?sess=k` spellings
    * collapse onto their base pages and `?page=2&sess=k` spellings
    * onto `?page=2` (order-preserving partial strip); `page` is
    * load-bearing and survives. Per-host rollup: raw vs canonical
    * distinct counts and the merged mass. Oracle: the q411 mining
    * replay + an independent DuckDB application (ordered string_agg
    * over non-dropped params). */
  lazy val qDustApply = Q(
    "q414_dust_apply",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 120).as("pid"))
      def base(c: org.apache.spark.sql.Column*) =
        concat((Seq(lit("http://"), col("source"), lit(".example/p/"),
          col("pid").cast("string")) ++ c): _*)
      val bhash = concat(lit("h-"), col("source"), lit("-"),
        col("pid").cast("string"))
      val crawl = d.select(base().as("url"), bhash.as("hash")).distinct()
        .unionAll(d.where(col("doc_id") % 3 === 0)
          .select(base(lit("?sess="), col("doc_id").cast("string"))
            .as("url"), bhash.as("hash")))
        .unionAll(d.where(col("doc_id") % 5 === 0)
          .select(base(lit("?page=2")).as("url"),
            concat(bhash, lit("-v2")).as("hash")).distinct())
        .unionAll(d.where(col("doc_id") % 7 === 0)
          .select(base(lit("?page=2&sess="), col("doc_id").cast("string"))
            .as("url"), concat(bhash, lit("-v2")).as("hash")))
      val rules = graft.ops.Dust.paramRules(crawl, "url", "hash",
        minSupport = 2)
      graft.ops.Dust.applyRules(crawl.select("url").distinct(), "url",
          rules)
        .withColumn("host",
          regexp_extract(col("canonical_url"),
            "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
        .groupBy("host")
        .agg(countDistinct(col("url")).as("n_raw"),
          countDistinct(col("canonical_url")).as("n_canonical"))
        .withColumn("n_merged", col("n_raw") - col("n_canonical"))
        .orderBy("host")
    },
    Some("""WITH d AS (SELECT doc_id, source, doc_id % 120 AS pid
          FROM documents),
      crawl AS (
        SELECT DISTINCT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) AS url,
          'h-' || source || '-' || CAST(pid AS VARCHAR) AS hash FROM d
        UNION ALL
        SELECT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) || '?sess=' || CAST(doc_id AS VARCHAR),
          'h-' || source || '-' || CAST(pid AS VARCHAR)
          FROM d WHERE doc_id % 3 = 0
        UNION ALL
        SELECT DISTINCT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) || '?page=2',
          'h-' || source || '-' || CAST(pid AS VARCHAR) || '-v2'
          FROM d WHERE doc_id % 5 = 0
        UNION ALL
        SELECT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) || '?page=2&sess=' ||
            CAST(doc_id AS VARCHAR),
          'h-' || source || '-' || CAST(pid AS VARCHAR) || '-v2'
          FROM d WHERE doc_id % 7 = 0),
      rows_ AS (SELECT DISTINCT url, hash FROM crawl),
      wq AS (SELECT url, hash, instr(url, '?') AS qp FROM rows_
        WHERE instr(url, '?') > 0),
      parsed AS (SELECT url, hash, substring(url, 1, qp - 1) AS pre,
          string_split(substring(url, qp + 1), '&') AS params FROM wq),
      expl AS (SELECT url, hash, pre, params, CAST(gs.i AS INT) AS pos
        FROM parsed, (SELECT unnest(range(1, 11)) AS i) gs
        WHERE gs.i <= len(params)),
      cand AS (SELECT
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)
            AS host,
          string_split(params[pos], '=')[1] AS param, hash,
          CASE WHEN len(params) = 1 THEN pre
            ELSE pre || '?' || array_to_string(
              list_concat(params[1:pos-1], params[pos+1:]), '&') END
            AS stripped
        FROM expl),
      ev AS (SELECT c.host, c.param, c.hash, r.hash AS thash
        FROM cand c JOIN rows_ r ON c.stripped = r.url),
      rules AS (SELECT host, param FROM ev GROUP BY 1, 2
        HAVING sum(CASE WHEN hash = thash THEN 1 ELSE 0 END) >= 2 AND
          sum(CASE WHEN hash <> thash THEN 1 ELSE 0 END) = 0),
      front AS (SELECT DISTINCT url FROM crawl),
      fq AS (SELECT url, instr(url, '?') AS qp FROM front),
      noq AS (SELECT url, url AS canon FROM fq WHERE qp = 0),
      fp AS (SELECT url, substring(url, 1, qp - 1) AS pre,
          string_split(substring(url, qp + 1), '&') AS params,
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)
            AS host
        FROM fq WHERE qp > 0),
      fe AS (SELECT url, pre, host, params[CAST(gs.i AS INT)] AS p,
          CAST(gs.i AS INT) AS pos
        FROM fp, (SELECT unnest(range(1, 11)) AS i) gs
        WHERE gs.i <= len(params)),
      fk AS (SELECT fe.url, fe.pre, fe.p, fe.pos,
          (r.host IS NOT NULL) AS dropd
        FROM fe LEFT JOIN rules r ON fe.host = r.host AND
          string_split(fe.p, '=')[1] = r.param),
      fa AS (SELECT url, pre,
          string_agg(p, '&' ORDER BY pos) FILTER (WHERE NOT dropd)
            AS keptq
        FROM fk GROUP BY url, pre),
      appq AS (SELECT url, CASE WHEN keptq IS NULL THEN pre
          ELSE pre || '?' || keptq END AS canon FROM fa),
      app AS (SELECT * FROM noq UNION ALL SELECT * FROM appq)
      SELECT regexp_extract(canon,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
        CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
        CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
        CAST(count(DISTINCT url) - count(DISTINCT canon) AS BIGINT)
          AS n_merged
      FROM app GROUP BY 1 ORDER BY host"""))

  /** Conditional-fetch ledger on the gate ([[graft.ops.Revalidation
    * .ledger]] — RFC 9110 §13.1 revalidation accounting: unchanged
    * pages whose stored copy held a validator answer 304 and save
    * their body bytes; unchanged pages without one are full 200s for
    * identical content — the wasted class that justifies storing
    * validators). Planted classes over documents: every 10th URL is
    * new (absent from the previous state), another tenth gone, every
    * doc_id % 4 == 1 modified (previous hash differs), and the
    * unchanged remainder splits on validator presence (even doc_ids
    * stored an ETag). Bytes ride n_chars. Oracle: the identical
    * full-outer reconciliation in DuckDB. */
  lazy val qConditionalFetch = Q(
    "q412_conditional_fetch",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val u = concat(lit("http://"), col("source"), lit(".example/d/"),
        col("doc_id").cast("string"))
      val prev = d.where(col("doc_id") % 10 =!= 9)
        .select(u.as("url"),
          concat(lit("h"), col("doc_id").cast("string"),
            when(col("doc_id") % 4 === 1, lit("-old")).otherwise(lit("")))
            .as("hash"),
          when(col("doc_id") % 2 === 0,
            concat(lit("etag-"), col("doc_id").cast("string")))
            .as("validator"))
      val cur = d.where(col("doc_id") % 10 =!= 8)
        .select(u.as("url"),
          concat(lit("h"), col("doc_id").cast("string")).as("hash"),
          col("n_chars").as("bytes"))
      graft.ops.Revalidation.ledger(prev, "url", "hash", "validator",
          cur, "url", "hash", "bytes")
        .orderBy("host")
    },
    Some("""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      prev AS (SELECT 'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          'h' || CAST(doc_id AS VARCHAR) ||
            CASE WHEN doc_id % 4 = 1 THEN '-old' ELSE '' END AS hash,
          CASE WHEN doc_id % 2 = 0
            THEN 'etag-' || CAST(doc_id AS VARCHAR) END AS validator
        FROM d WHERE doc_id % 10 <> 9),
      cur AS (SELECT 'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          'h' || CAST(doc_id AS VARCHAR) AS hash, n_chars AS bytes
        FROM d WHERE doc_id % 10 <> 8),
      j AS (SELECT coalesce(p.url, c.url) AS url, p.url AS purl,
          c.url AS curl, p.hash AS ph, c.hash AS ch, p.validator AS v,
          c.bytes AS b
        FROM prev p FULL OUTER JOIN cur c ON p.url = c.url),
      cls AS (SELECT
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)
            AS host,
          CASE WHEN purl IS NULL THEN 'new'
            WHEN curl IS NULL THEN 'gone'
            WHEN ph = ch AND v IS NOT NULL THEN 'revalidated'
            WHEN ph = ch THEN 'unchanged_refetch'
            ELSE 'modified' END AS cl, b
        FROM j)
      SELECT host,
        CAST(sum(CASE WHEN cl = 'revalidated' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_revalidated,
        CAST(sum(CASE WHEN cl = 'unchanged_refetch' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_unchanged_refetch,
        CAST(sum(CASE WHEN cl = 'modified' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_modified,
        CAST(sum(CASE WHEN cl = 'new' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new,
        CAST(sum(CASE WHEN cl = 'gone' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_gone,
        CAST(sum(CASE WHEN cl = 'revalidated' THEN b ELSE 0 END)
          AS BIGINT) AS bytes_saved,
        CAST(sum(CASE WHEN cl = 'unchanged_refetch' THEN b ELSE 0 END)
          AS BIGINT) AS bytes_wasted,
        CAST(sum(CASE WHEN cl IN ('modified', 'new') THEN b ELSE 0 END)
          AS BIGINT) AS bytes_paid
      FROM cls GROUP BY host ORDER BY host"""))

  /** Sitemap-lastmod STALENESS triage on the gate ([[graft.ops
    * .CrawlSchedule.sitemapStaleness]] — a fresh sitemap reconciled
    * against the stored fetch state: never_fetched / stale / aged /
    * fresh with the scheduling priority). Construction plants all
    * four classes: every 5th URL has no stored state, lastmod is
    * absent on every 4th entry (sitemaps.org makes it OPTIONAL — the
    * aged-vs-fresh split runs on copy age alone there), and the
    * claim/fetch-time arithmetic splits stale vs fresh on doc_id%3.
    * Oracle: the identical left-join CASE in DuckDB. */
  lazy val qSitemapStaleness = Q(
    "q417_sitemap_staleness",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        col("source"))
      val u = concat(lit("http://"), col("source"), lit(".example/d/"),
        col("doc_id").cast("string"))
      val entries = d.select(u.as("url"),
        when(col("doc_id") % 4 === 0, lit(null).cast("long"))
          .otherwise((col("doc_id") % 97) * 1000000L +
            (col("doc_id") % 3) * 86400000000L).as("lastmod_us"))
      val state = d.where(col("doc_id") % 5 =!= 0)
        .select(u.as("url"),
          ((col("doc_id") % 89) * 1000000L + 43200000000L)
            .as("fetched_us"))
      graft.ops.CrawlSchedule.sitemapStaleness(entries, "url",
          "lastmod_us", state, "url", "fetched_us",
          asOfUs = 140000000000L, maxAgeUs = 96000000000L)
        .orderBy("url")
    },
    Some("""WITH d AS (SELECT doc_id, source FROM documents),
      e AS (SELECT 'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          CASE WHEN doc_id % 4 = 0 THEN NULL
            ELSE (doc_id % 97) * 1000000 +
              (doc_id % 3) * 86400000000 END AS lastmod_us
        FROM d),
      st AS (SELECT 'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          (doc_id % 89) * 1000000 + 43200000000 AS fetched_us
        FROM d WHERE doc_id % 5 <> 0),
      j AS (SELECT e.url, e.lastmod_us, st.fetched_us,
          (st.url IS NOT NULL) AS has FROM e
        LEFT JOIN st ON e.url = st.url),
      c AS (SELECT url,
          CASE WHEN NOT has THEN 'never_fetched'
            WHEN lastmod_us IS NOT NULL AND lastmod_us > fetched_us
              THEN 'stale'
            WHEN lastmod_us IS NULL AND
              140000000000 - fetched_us > 96000000000 THEN 'aged'
            ELSE 'fresh' END AS pclass,
          lastmod_us, fetched_us
        FROM j)
      SELECT url, pclass,
        CASE pclass WHEN 'never_fetched' THEN 0 WHEN 'stale' THEN 1
          WHEN 'aged' THEN 2 ELSE 3 END AS priority,
        CAST(lastmod_us AS BIGINT) AS lastmod_us,
        CAST(fetched_us AS BIGINT) AS fetched_us
      FROM c ORDER BY url"""))

  /** Robots `Crawl-delay` driving the PER-HOST fetch plan on the gate
    * ([[graft.ops.Robots.crawlDelaySeeds]] →
    * [[graft.ops.CrawlSchedule.dueSchedulePerHost]] — the politeness
    * interval as a host ATTRIBUTE read from robots.txt, not a crawl
    * constant). Host constructions cycle on the source index: a `*`
    * group with the delay, an own-group (`graftbot`) delay that must
    * beat a decoy `*` delay of 9s, and a no-directive host that
    * falls back to the 5s default. The dues are sized so the
    * politeness push binds. Oracle: the construction's delay
    * arithmetic + the q410 closed-form window replay with the delay
    * joined per host. */
  lazy val qRobotsDelaySchedule = Q(
    "q418_robots_delay_schedule",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        col("source"),
        substring(col("source"), 4, 10).cast("int").as("sidx"))
      val robots = d.select(
          concat(col("source"), lit(".example")).as("host"),
          col("sidx")).distinct()
        .select(col("host"),
          when(col("sidx") % 3 === 0,
            concat(lit("User-agent: *\nDisallow: /private\n" +
              "Crawl-delay: "), (lit(1) + col("sidx") % 5),
              lit("\n")))
          .when(col("sidx") % 3 === 1,
            concat(lit("User-agent: graftbot\nCrawl-delay: "),
              (lit(2) + col("sidx") % 4),
              lit("\nUser-agent: *\nCrawl-delay: 9\n")))
          .otherwise(lit("User-agent: *\nDisallow:\n")).as("txt"))
      val delays = graft.ops.Robots.crawlDelaySeeds(robots, "host",
        "txt", "graftbot", defaultDelayUs = 5000000L)
      val due = d.select(
        concat(col("source"), lit(".example")).as("host"),
        concat(lit("http://"), col("source"), lit(".example/d/"),
          col("doc_id").cast("string")).as("url"),
        ((col("doc_id") % 53) * 1000000L).as("due_us"))
      graft.ops.CrawlSchedule.dueSchedulePerHost(
          due.join(broadcast(delays), Seq("host")),
          "host", "url", "due_us", "delay_us")
        .orderBy("host", "slot")
    },
    Some("""WITH d AS (SELECT doc_id, source,
          CAST(substring(source, 4) AS INT) AS sidx FROM documents),
      del AS (SELECT DISTINCT source || '.example' AS host,
          CASE WHEN sidx % 3 = 0 THEN (1 + sidx % 5) * 1000000
            WHEN sidx % 3 = 1 THEN (2 + sidx % 4) * 1000000
            ELSE 5000000 END AS delay_us
        FROM d),
      due AS (SELECT source || '.example' AS host,
          'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          (doc_id % 53) * 1000000 AS due_us
        FROM d),
      sl AS (SELECT due.host, url, due_us, delay_us,
          CAST(row_number() OVER (PARTITION BY due.host
            ORDER BY due_us, url) - 1 AS INT) AS slot
        FROM due JOIN del ON due.host = del.host),
      adj AS (SELECT *, due_us - delay_us * slot AS a FROM sl)
      SELECT host, url, due_us, CAST(delay_us AS BIGINT) AS delay_us,
        slot,
        CAST(delay_us * slot + max(a) OVER (PARTITION BY host
          ORDER BY due_us, url ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS fetch_at_us
      FROM adj ORDER BY host, slot"""))

  /** ADAPTIVE politeness composed on the gate ([[graft.ops
    * .CrawlSchedule.adaptiveDelays]] → [[graft.ops.CrawlSchedule
    * .dueSchedulePerHost]] — the Heritrix delayFactor discipline:
    * each host waits factor × its own MEDIAN observed latency,
    * clamped, then the q410 closed-form plan runs on the derived
    * delays). Host latency bases cycle on the source index so the
    * clamp exercises all three regimes (min-clamped fast hosts,
    * pass-through, max-clamped slow hosts) — verified non-vacuous at
    * generation. Oracle: quantile_cont (the q05 percentile seam) +
    * the clamp + the window replay. */
  lazy val qAdaptiveDelay = Q(
    "q420_adaptive_delay",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        col("source"),
        substring(col("source"), 4, 10).cast("int").as("sidx"))
      val host = concat(col("source"), lit(".example"))
      val fetches = d.select(host.as("host"),
        (lit(20000L) * (lit(1) + col("sidx") % 4) +
          (col("doc_id") % 23) * 7000L).as("latency_us"))
      val delays = graft.ops.CrawlSchedule.adaptiveDelays(fetches,
        "host", "latency_us", factor = 2.0, minDelayUs = 250000L,
        maxDelayUs = 310000L)
      val due = d.select(host.as("host"),
        concat(lit("http://"), col("source"), lit(".example/d/"),
          col("doc_id").cast("string")).as("url"),
        ((col("doc_id") % 31) * 500000L).as("due_us"))
      graft.ops.CrawlSchedule.dueSchedulePerHost(
          due.join(broadcast(delays), Seq("host")),
          "host", "url", "due_us", "delay_us")
        .orderBy("host", "slot")
    },
    Some("""WITH d AS (SELECT doc_id, source,
          CAST(substring(source, 4) AS INT) AS sidx FROM documents),
      f AS (SELECT source || '.example' AS host,
          20000 * (1 + sidx % 4) + (doc_id % 23) * 7000 AS latency_us
        FROM d),
      del AS (SELECT host,
          CAST(least(greatest(
            CAST(floor(2.0 * quantile_cont(latency_us, 0.5)) AS BIGINT),
            250000), 310000) AS BIGINT) AS delay_us
        FROM f GROUP BY 1),
      due AS (SELECT source || '.example' AS host,
          'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          (doc_id % 31) * 500000 AS due_us
        FROM d),
      sl AS (SELECT due.host, url, due_us, delay_us,
          CAST(row_number() OVER (PARTITION BY due.host
            ORDER BY due_us, url) - 1 AS INT) AS slot
        FROM due JOIN del ON due.host = del.host),
      adj AS (SELECT *, due_us - delay_us * slot AS a FROM sl)
      SELECT host, url, due_us, CAST(delay_us AS BIGINT) AS delay_us,
        slot,
        CAST(delay_us * slot + max(a) OVER (PARTITION BY host
          ORDER BY due_us, url ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS fetch_at_us
      FROM adj ORDER BY host, slot"""))

  /** TRAP-AWARE authority budgets on the gate (composition: [[graft
    * .ops.Dust.trapHosts]] → [[graft.ops.CrawlBudget]] — a flagged
    * trap host is not merely down-weighted, it is REMOVED from the
    * quota split, so its authority mass redistributes to healthy
    * hosts and its frontier admits nothing (absent from the budget
    * table = no budget, the q401 contract). The authority proxy is
    * the SAME aggregate that produced the trap verdict
    * (distinct-content counts), so the gate certifies the two ops
    * composing through one shared table. cal/facet flood the
    * frontier with 500 URLs each and must admit zero. Oracle:
    * replays the trap aggregate, the exclusion, the integer quota
    * split, and the window admission. */
  lazy val qTrapBudget = Q(
    "q415_trap_budget",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 120).as("pid"))
      val crawl = d.select(
          concat(lit("http://"), col("source"), lit(".example/p/"),
            col("pid").cast("string")).as("url"),
          concat(lit("h-"), col("source"), lit("-"),
            col("pid").cast("string")).as("hash")).distinct()
        .unionAll(d.select(
          concat(lit("http://cal.example/cal?d="),
            col("doc_id").cast("string")).as("url"),
          concat(lit("c"), (col("doc_id") % 3).cast("string"))
            .as("hash")))
        .unionAll(d.select(
          concat(lit("http://facet.example/list/"),
            (col("doc_id") % 40).cast("string"), lit("/"),
            (col("doc_id") % 7).cast("string"), lit("?s="),
            col("doc_id").cast("string")).as("url"),
          concat(lit("f"), (col("doc_id") % 40).cast("string"))
            .as("hash")))
      val th = graft.ops.Dust.trapHosts(crawl, "url", "hash",
        minUrls = 50L, maxRatio = 10.0)
      val budgets = graft.ops.CrawlBudget.rankBudgets(
        th.where(!col("is_trap")), "host", "n_contents", 200L)
      val cost = (lit(1L) + col("doc_id") % 3).as("cost")
      val frontier = d.select(
          concat(col("source"), lit(".example")).as("host"),
          col("doc_id").as("id"), cost)
        .unionAll(d.select(lit("cal.example").as("host"),
          col("doc_id").as("id"), cost))
        .unionAll(d.select(lit("facet.example").as("host"),
          col("doc_id").as("id"), cost))
      val admitted = graft.ops.CrawlBudget.admitByHostBudget(
        frontier, "host", "id", "cost", budgets, "host", "budget_q")
      val nf = frontier.groupBy("host")
        .agg(count(lit(1)).as("n_frontier"))
      val a2 = admitted.groupBy("host")
        .agg(count(lit(1)).as("n_admitted"),
          sum(col("cost")).as("cost_admitted"))
      budgets.join(nf, Seq("host"), "left")
        .join(a2, Seq("host"), "left")
        .select(col("host"), col("budget_q"),
          coalesce(col("n_frontier"), lit(0L)).as("n_frontier"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("cost_admitted"), lit(0L)).as("cost_admitted"))
        .orderBy("host")
    },
    Some("""WITH d AS (SELECT doc_id, source, doc_id % 120 AS pid
          FROM documents),
      crawl AS (
        SELECT DISTINCT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) AS url,
          'h-' || source || '-' || CAST(pid AS VARCHAR) AS hash FROM d
        UNION ALL
        SELECT 'http://cal.example/cal?d=' || CAST(doc_id AS VARCHAR),
          'c' || CAST(doc_id % 3 AS VARCHAR) FROM d
        UNION ALL
        SELECT 'http://facet.example/list/' ||
            CAST(doc_id % 40 AS VARCHAR) || '/' ||
            CAST(doc_id % 7 AS VARCHAR) || '?s=' ||
            CAST(doc_id AS VARCHAR),
          'f' || CAST(doc_id % 40 AS VARCHAR) FROM d),
      rows_ AS (SELECT DISTINCT url, hash FROM crawl),
      th AS (SELECT
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)
            AS host,
          count(DISTINCT url) AS nu, count(DISTINCT hash) AS nc
        FROM rows_ GROUP BY 1),
      healthy AS (SELECT host, nc FROM th
        WHERE NOT (nu >= 50 AND CAST(nu AS DOUBLE) / nc >= 10.0)),
      tot AS (SELECT sum(nc) AS t FROM healthy),
      bud AS (SELECT host, CAST(200 * nc // t AS BIGINT) AS budget_q
        FROM healthy, tot),
      fr AS (SELECT source || '.example' AS host, doc_id AS id,
            1 + doc_id % 3 AS cost FROM d
        UNION ALL SELECT 'cal.example', doc_id, 1 + doc_id % 3 FROM d
        UNION ALL SELECT 'facet.example', doc_id, 1 + doc_id % 3 FROM d),
      adm AS (SELECT f.host, f.id, f.cost, b.budget_q,
          sum(f.cost) OVER (PARTITION BY f.host ORDER BY f.id
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM fr f JOIN bud b ON f.host = b.host),
      a2 AS (SELECT host, CAST(count(*) AS BIGINT) AS n_admitted,
          CAST(sum(cost) AS BIGINT) AS cost_admitted
        FROM adm WHERE cum <= budget_q GROUP BY 1),
      nf AS (SELECT host, CAST(count(*) AS BIGINT) AS n_frontier
        FROM fr GROUP BY 1)
      SELECT b.host, b.budget_q,
        coalesce(nf.n_frontier, 0) AS n_frontier,
        coalesce(a2.n_admitted, 0) AS n_admitted,
        coalesce(a2.cost_admitted, 0) AS cost_admitted
      FROM bud b
      LEFT JOIN nf ON nf.host = b.host
      LEFT JOIN a2 ON a2.host = b.host
      ORDER BY b.host"""))

  /** STREAMING conditional-fetch dispositions on the gate
    * ([[graft.streaming.StreamingRevalidation.dispositions]] — each
    * arriving fetch result reconciled against the stored (url →
    * hash, validator) state via a stateless per-batch stream–static
    * join; `gone` is unobservable online and stays a q412 batch
    * product). The q412 construction's prev state is the static
    * side; the current fetch log streams in two ascending-url
    * batches. Row-level oracle: the same left-join classification in
    * DuckDB, 304 rows carrying zero wire bytes. */
  lazy val qStreamingRevalidation = Q(
    "q416_streaming_revalidation",
    (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val u = concat(lit("http://"), col("source"), lit(".example/d/"),
        col("doc_id").cast("string"))
      val prev = d.where(col("doc_id") % 10 =!= 9)
        .select(u.as("url"),
          concat(lit("h"), col("doc_id").cast("string"),
            when(col("doc_id") % 4 === 1, lit("-old")).otherwise(lit("")))
            .as("hash"),
          when(col("doc_id") % 2 === 0,
            concat(lit("etag-"), col("doc_id").cast("string")))
            .as("validator"))
      val curRows = d.where(col("doc_id") % 10 =!= 8)
        .select(u.as("url"),
          concat(lit("h"), col("doc_id").cast("string")).as("hash"),
          col("n_chars").as("bytes"))
        .as[(String, String, Long)].collect().sortBy(_._1)
      val mem = MemoryStream[(String, String, Long)]
      val src = mem.toDF.toDF("url", "hash", "bytes")
      val out = graft.streaming.StreamingRevalidation.dispositions(
        src, "url", "hash", "bytes", prev, "url", "hash", "validator")
      val sink = "graft_srv_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-srv-gate").toString
      val query = out.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val half = (curRows.length + 1) / 2
        curRows.grouped(math.max(1, half)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      StreamGate.finish(s, sink, ckpt, s.table(sink))
        .orderBy("url")
    },
    Some("""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      prev AS (SELECT 'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          'h' || CAST(doc_id AS VARCHAR) ||
            CASE WHEN doc_id % 4 = 1 THEN '-old' ELSE '' END AS hash,
          CASE WHEN doc_id % 2 = 0
            THEN 'etag-' || CAST(doc_id AS VARCHAR) END AS validator
        FROM d WHERE doc_id % 10 <> 9),
      cur AS (SELECT 'http://' || source || '.example/d/' ||
            CAST(doc_id AS VARCHAR) AS url,
          'h' || CAST(doc_id AS VARCHAR) AS hash, n_chars AS bytes
        FROM d WHERE doc_id % 10 <> 8),
      cls AS (SELECT c.url,
          CASE WHEN p.url IS NULL THEN 'new'
            WHEN c.hash = p.hash AND p.validator IS NOT NULL
              THEN 'revalidated'
            WHEN c.hash = p.hash THEN 'unchanged_refetch'
            ELSE 'modified' END AS disposition,
          c.bytes
        FROM cur c LEFT JOIN prev p ON c.url = p.url)
      SELECT url, disposition, bytes,
        CASE WHEN disposition = 'revalidated' THEN 0 ELSE bytes END
          AS bytes_on_wire
      FROM cls ORDER BY url"""))

  /** The CANONICAL FRONTIER KEY composed end-to-end on the gate —
    * the capstone of the URL-equivalence shelf: raw crawl spellings
    * flow through [[graft.ops.Redirects.resolveChains]] (hop to the
    * terminal location) → [[graft.ops.UrlResolve.canonicalize]]
    * (RFC 3986 §6: case, :80, dot segments) → [[graft.ops.Dust
    * .applyRules]] (crawl-proven noise params dropped) into ONE
    * dedup key. Five spellings cycle on doc_id%5 — plain, cased+
    * ported, dot-segment detour, sess-tagged, and a redirect hop —
    * and 49 ⊥ 5 makes every spelling family hit every target page,
    * so each of the 49 canonical keys must fuse 3 fixed + one
    * per-doc sess + one per-doc redirect spelling. A key that fails
    * ANY stage splits and the counts break. Oracle: construction
    * arithmetic (the q396 discipline — the expected key is known by
    * construction, never re-derived). */
  lazy val qFrontierKey = Q(
    "q419_frontier_key",
    (s, dir) => {
      import s.implicits._
      val d = table(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 49).as("pid"),
          (col("doc_id") % 5).as("m"))
      val tgt = concat(lit("http://tgt.example/p/"),
        col("pid").cast("string"))
      val docRaw = d.select(col("doc_id"), col("pid"),
        when(col("m") === 0, tgt)
          .when(col("m") === 1,
            concat(lit("HTTP://TGT.Example:80/p/"),
              col("pid").cast("string")))
          .when(col("m") === 2,
            concat(lit("http://tgt.example/a/../p/"),
              col("pid").cast("string")))
          .when(col("m") === 3,
            concat(tgt, lit("?sess="), col("doc_id").cast("string")))
          .otherwise(concat(lit("http://redir.example/r/"),
            col("doc_id").cast("string"))).as("raw"))
      val edges = d.where(col("m") === 4)
        .select(concat(lit("http://redir.example/r/"),
          col("doc_id").cast("string")).as("src"), tgt.as("dst"))
      val crawl = d.select(tgt.as("url"),
          concat(lit("h"), col("pid").cast("string")).as("hash"))
        .distinct()
        .unionAll(d.where(col("m") === 3)
          .select(concat(tgt, lit("?sess="), col("doc_id").cast("string"))
            .as("url"),
            concat(lit("h"), col("pid").cast("string")).as("hash")))
      val rules = graft.ops.Dust.paramRules(crawl, "url", "hash",
        minSupport = 2)
      val resolved = graft.ops.Redirects.resolveChains(edges, "src",
        "dst", docRaw.select(col("raw").as("url")), "url", maxHops = 4)
      val canon0 = resolved.select(col("url"), col("final_url"))
        .as[(String, String)]
        .mapPartitions(_.map { case (u, f) =>
          (u, graft.ops.UrlResolve.canonicalize(f))
        })
        .toDF("r_url", "c1")
      val applied = graft.ops.Dust.applyRules(
        canon0.select(col("c1")).distinct(), "c1", rules)
      val keyed = canon0
        .join(applied, canon0("c1") === applied("url"))
        .select(col("r_url"), col("canonical_url"))
      docRaw.join(keyed, docRaw("raw") === keyed("r_url"))
        .groupBy("canonical_url")
        .agg(countDistinct(col("raw")).as("n_forms"),
          count(lit(1)).as("n_docs"))
        .orderBy("canonical_url")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 49 AS pid,
          doc_id % 5 AS m FROM documents),
      r AS (SELECT doc_id, pid,
          CASE m
            WHEN 0 THEN 'http://tgt.example/p/' || CAST(pid AS VARCHAR)
            WHEN 1 THEN 'HTTP://TGT.Example:80/p/' ||
              CAST(pid AS VARCHAR)
            WHEN 2 THEN 'http://tgt.example/a/../p/' ||
              CAST(pid AS VARCHAR)
            WHEN 3 THEN 'http://tgt.example/p/' ||
              CAST(pid AS VARCHAR) || '?sess=' ||
              CAST(doc_id AS VARCHAR)
            ELSE 'http://redir.example/r/' || CAST(doc_id AS VARCHAR)
          END AS raw
        FROM d)
      SELECT 'http://tgt.example/p/' || CAST(pid AS VARCHAR)
          AS canonical_url,
        CAST(count(DISTINCT raw) AS BIGINT) AS n_forms,
        count(*) AS n_docs
      FROM r GROUP BY 1 ORDER BY canonical_url"""))

  /** MIRROR-host detection on the gate ([[graft.ops.CrawlHealth
    * .hostMirrors]] — Bharat & Broder WWW 1999: hosts serving
    * largely the same content SET are mirrors; exact Jaccard over
    * content hashes with the paper's size-ratio prune). Planted per
    * source host: a FULL mirror (same hash set, J=1) and a PARTIAL
    * mirror (pids with pid%3≠0, J≈2/3, asymmetric containments);
    * cross-source pairs share nothing and must prune out. Oracle:
    * the identical set arithmetic in DuckDB. */
  lazy val qHostMirrors = Q(
    "q421_host_mirrors",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 120).as("pid"))
      val h = concat(lit("h-"), col("source"), lit("-"),
        col("pid").cast("string"))
      val crawl = d.select(
          concat(col("source"), lit(".example")).as("host"), h.as("hash"))
        .unionAll(d.select(
          concat(lit("m-"), col("source"), lit(".example")).as("host"),
          h.as("hash")))
        .unionAll(d.where(col("pid") % 3 =!= 0).select(
          concat(lit("p-"), col("source"), lit(".example")).as("host"),
          h.as("hash")))
      graft.ops.CrawlHealth.hostMirrors(crawl, "host", "hash",
          minJaccard = 0.5)
        .orderBy("host_a", "host_b")
    },
    Some("""WITH d AS (SELECT doc_id, source, doc_id % 120 AS pid
          FROM documents),
      crawl AS (
        SELECT source || '.example' AS host,
          'h-' || source || '-' || CAST(pid AS VARCHAR) AS hash FROM d
        UNION ALL
        SELECT 'm-' || source || '.example',
          'h-' || source || '-' || CAST(pid AS VARCHAR) FROM d
        UNION ALL
        SELECT 'p-' || source || '.example',
          'h-' || source || '-' || CAST(pid AS VARCHAR)
          FROM d WHERE pid % 3 <> 0),
      rows_ AS (SELECT DISTINCT host, hash FROM crawl),
      sz AS (SELECT host, count(*) AS n FROM rows_ GROUP BY 1),
      sh AS (SELECT a.host AS host_a, b.host AS host_b,
          count(*) AS n_shared
        FROM rows_ a JOIN rows_ b ON a.hash = b.hash
        WHERE a.host < b.host GROUP BY 1, 2),
      j AS (SELECT host_a, host_b, sa.n AS n_a, sb.n AS n_b, n_shared
        FROM sh
        JOIN sz sa ON sa.host = sh.host_a
        JOIN sz sb ON sb.host = sh.host_b
        WHERE CAST(least(sa.n, sb.n) AS DOUBLE) /
          greatest(sa.n, sb.n) >= 0.5)
      SELECT host_a, host_b, n_a, n_b, n_shared,
        round(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 8)
          AS jaccard,
        round(CAST(n_shared AS DOUBLE) / n_a, 8) AS containment_a,
        round(CAST(n_shared AS DOUBLE) / n_b, 8) AS containment_b
      FROM j
      WHERE round(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 8)
        >= 0.5
      ORDER BY host_a, host_b"""))

  /** Circuit-breaker states on the gate ([[graft.ops.CrawlHealth
    * .circuitBreakers]] — per-host longest and trailing
    * consecutive-failure runs from a fetch-outcome log, tripped at
    * 3). Outcomes derive from (doc_id·7)%10 — scattered ~30%
    * failures whose run structure varies organically per host, with
    * both tripped and healthy hosts and nonzero trailing runs.
    * Oracle: the standard gaps-and-islands double row_number in
    * DuckDB. */
  lazy val qCircuitBreaker = Q(
    "q422_circuit_breaker",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        col("source"))
      val events = d.select(
        concat(col("source"), lit(".example")).as("host"),
        col("doc_id").as("ord"),
        ((col("doc_id") * 7) % 10 >= 3).as("ok"))
      graft.ops.CrawlHealth.circuitBreakers(events, "host", "ord",
          "ok", tripAt = 3)
        .orderBy("host")
    },
    Some("""WITH e AS (SELECT source || '.example' AS host,
          doc_id AS ord, (doc_id * 7) % 10 >= 3 AS ok
        FROM documents),
      g AS (SELECT host, ord, ok,
          row_number() OVER (PARTITION BY host ORDER BY ord) -
          row_number() OVER (PARTITION BY host, ok ORDER BY ord)
            AS grp
        FROM e),
      fr AS (SELECT host, grp, count(*) AS len, max(ord) AS endo
        FROM g WHERE NOT ok GROUP BY 1, 2),
      base AS (SELECT host, count(*) AS n_events,
          CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
            AS n_fail,
          max(ord) AS last_ord
        FROM e GROUP BY 1),
      mx AS (SELECT host, max(len) AS max_fail_run FROM fr GROUP BY 1)
      SELECT b.host, b.n_events, b.n_fail,
        coalesce(mx.max_fail_run, 0) AS max_fail_run,
        coalesce(o.len, 0) AS open_run,
        (coalesce(mx.max_fail_run, 0) >= 3) AS tripped
      FROM base b
      LEFT JOIN mx ON mx.host = b.host
      LEFT JOIN fr o ON o.host = b.host AND o.endo = b.last_ord
      ORDER BY b.host"""))

  /** STREAMING circuit breaker on the gate ([[graft.streaming
    * .StreamingCircuitBreaker.breakerStates]] — q422's outcome log
    * as a two-batch ascending-ord stream; state is four Longs per
    * host, no TTL by design). The LAST emitted row per host must
    * equal the batch gaps-and-islands answer — one oracle, two
    * engines (the q407 discipline). */
  lazy val qStreamingBreaker = Q(
    "q423_streaming_breaker",
    (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = table(s, dir, "documents").select(col("doc_id"),
        col("source"))
      val rows = d.select(
          concat(col("source"), lit(".example")).as("host"),
          col("doc_id").as("ord"),
          ((col("doc_id") * 7) % 10 >= 3).as("ok"))
        .as[(String, Long, Boolean)].collect().sortBy(_._2)
      val mem = MemoryStream[(String, Long, Boolean)]
      val src = mem.toDF.toDF("host", "ord", "ok")
      val out = graft.streaming.StreamingCircuitBreaker.breakerStates(
        src, "host", "ord", "ok", tripAt = 3)
      val sink = "graft_scb_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-scb-gate").toString
      val query = out.toDF.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val half = (rows.length + 1) / 2
        rows.grouped(math.max(1, half)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val all = StreamGate.finish(s, sink, ckpt, s.table(sink))
      val last = all.groupBy("host").agg(max(col("seq")).as("seq"))
      all.join(last, Seq("host", "seq"))
        .select(col("host"), col("nEvents").as("n_events"),
          col("nFail").as("n_fail"),
          col("maxFailRun").as("max_fail_run"),
          col("openRun").as("open_run"), col("tripped"))
        .orderBy("host")
    },
    Some("""WITH e AS (SELECT source || '.example' AS host,
          doc_id AS ord, (doc_id * 7) % 10 >= 3 AS ok
        FROM documents),
      g AS (SELECT host, ord, ok,
          row_number() OVER (PARTITION BY host ORDER BY ord) -
          row_number() OVER (PARTITION BY host, ok ORDER BY ord)
            AS grp
        FROM e),
      fr AS (SELECT host, grp, count(*) AS len, max(ord) AS endo
        FROM g WHERE NOT ok GROUP BY 1, 2),
      base AS (SELECT host, count(*) AS n_events,
          CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
            AS n_fail,
          max(ord) AS last_ord
        FROM e GROUP BY 1),
      mx AS (SELECT host, max(len) AS max_fail_run FROM fr GROUP BY 1)
      SELECT b.host, b.n_events, b.n_fail,
        coalesce(mx.max_fail_run, 0) AS max_fail_run,
        coalesce(o.len, 0) AS open_run,
        (coalesce(mx.max_fail_run, 0) >= 3) AS tripped
      FROM base b
      LEFT JOIN mx ON mx.host = b.host
      LEFT JOIN fr o ON o.host = b.host AND o.endo = b.last_ord
      ORDER BY b.host"""))

  /** SOFT-404 detection on the gate ([[graft.ops.CrawlHealth
    * .soft404]] — the WWW 2004 random-probe protocol: a host's
    * error fingerprint is the body served for a URL that cannot
    * exist; any 200 page serving that body is a soft 404). Every
    * 7th page serves its host's error body; every 5th host has no
    * probe row and must pass through UNflagged (null fingerprint ≠
    * unknown-is-error). Oracle: the identical left-join CASE. */
  lazy val qSoft404 = Q(
    "q424_soft404",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          substring(col("source"), 4, 10).cast("int").as("sidx"))
      val pages = d.select(
        concat(col("source"), lit(".example")).as("host"),
        concat(lit("/d/"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 7 === 0,
          concat(lit("e-"), col("source")))
          .otherwise(concat(lit("h"), col("doc_id").cast("string")))
          .as("hash"))
      val probes = d.where(col("sidx") % 5 =!= 0)
        .select(concat(col("source"), lit(".example")).as("host"),
          concat(lit("e-"), col("source")).as("fp"))
        .distinct()
      graft.ops.CrawlHealth.soft404(pages, "host", "url", "hash",
          probes, "host", "fp")
        .orderBy("host", "url")
    },
    Some("""WITH d AS (SELECT doc_id, source,
          CAST(substring(source, 4) AS INT) AS sidx FROM documents),
      pages AS (SELECT source || '.example' AS host,
          '/d/' || CAST(doc_id AS VARCHAR) AS url,
          CASE WHEN doc_id % 7 = 0 THEN 'e-' || source
            ELSE 'h' || CAST(doc_id AS VARCHAR) END AS hash,
          sidx
        FROM d),
      probes AS (SELECT DISTINCT source || '.example' AS host,
          'e-' || source AS fp
        FROM d WHERE sidx % 5 <> 0)
      SELECT p.host, p.url, p.hash,
        (pr.fp IS NOT NULL AND p.hash = pr.fp) AS soft404
      FROM pages p LEFT JOIN probes pr ON p.host = pr.host
      ORDER BY p.host, p.url"""))

  /** STREAMING trap screen on the gate ([[graft.streaming
    * .StreamingTrapScreen.screen]] — q413's URL-minting verdict
    * online, with per-host KMV bottom-k sketch state instead of
    * unbounded exact sets; KMV is a function of the distinct SET, so
    * the streamed sketch equals the batch sketch over the same
    * observations). cal.example mints a URL per doc_id from 3
    * bodies (the estimate path: 500 ≫ k=64); source hosts stay
    * exact below k and unflagged. Oracle: a DuckDB KMV replay on
    * the q376 md5-60-bit convention — exact below k,
    * (k−1)·2⁶⁰/kth at k. */
  lazy val qStreamingTrapScreen = Q(
    "q425_streaming_trap_screen",
    (s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 120).as("pid"))
      val rows = d.select(
          concat(col("source"), lit(".example")).as("host"),
          concat(lit("http://"), col("source"), lit(".example/p/"),
            col("pid").cast("string")).as("url"),
          concat(lit("h-"), col("source"), lit("-"),
            col("pid").cast("string")).as("hash"),
          col("doc_id"))
        .unionAll(d.select(lit("cal.example").as("host"),
          concat(lit("http://cal.example/cal?d="),
            col("doc_id").cast("string")).as("url"),
          concat(lit("c"), (col("doc_id") % 3).cast("string"))
            .as("hash"),
          col("doc_id")))
        .as[(String, String, String, Long)].collect().sortBy(_._4)
        .map(t => (t._1, t._2, t._3))
      val mem = MemoryStream[(String, String, String)]
      val src = mem.toDF.toDF("host", "url", "hash")
      val out = graft.streaming.StreamingTrapScreen.screen(
        src, "host", "url", "hash", k = 64, minUrls = 50.0,
        maxRatio = 10.0)
      val sink = "graft_sts_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-sts-gate").toString
      val query = out.toDF.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        val half = (rows.length + 1) / 2
        rows.grouped(math.max(1, half)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val all = StreamGate.finish(s, sink, ckpt, s.table(sink))
      val last = all.groupBy("host").agg(max(col("seq")).as("seq"))
      all.join(last, Seq("host", "seq"))
        .select(col("host"), col("estUrls").as("est_urls"),
          col("estHashes").as("est_hashes"), col("ratio"),
          col("flagged"))
        .orderBy("host")
    },
    Some("""WITH d AS (SELECT doc_id, source, doc_id % 120 AS pid
          FROM documents),
      obs AS (
        SELECT source || '.example' AS host,
          'http://' || source || '.example/p/' || CAST(pid AS VARCHAR)
            AS url,
          'h-' || source || '-' || CAST(pid AS VARCHAR) AS hash
        FROM d
        UNION ALL
        SELECT 'cal.example',
          'http://cal.example/cal?d=' || CAST(doc_id AS VARCHAR),
          'c' || CAST(doc_id % 3 AS VARCHAR)
        FROM d),
      hu AS (SELECT DISTINCT host,
          CAST(('0x' || substr(md5(url), 1, 15)) AS BIGINT) AS h
        FROM obs),
      hh AS (SELECT DISTINCT host,
          CAST(('0x' || substr(md5(hash), 1, 15)) AS BIGINT) AS h
        FROM obs),
      ku AS (SELECT host, h, row_number() OVER (PARTITION BY host
          ORDER BY h) AS rn FROM hu),
      kh AS (SELECT host, h, row_number() OVER (PARTITION BY host
          ORDER BY h) AS rn FROM hh),
      eu AS (SELECT host, count(*) AS nk, max(h) AS kth
        FROM ku WHERE rn <= 64 GROUP BY 1),
      eh AS (SELECT host, count(*) AS nk, max(h) AS kth
        FROM kh WHERE rn <= 64 GROUP BY 1),
      est AS (SELECT eu.host,
          round(CASE WHEN eu.nk < 64 THEN CAST(eu.nk AS DOUBLE)
            ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE) / eu.kth
            END, 6) AS est_urls,
          round(CASE WHEN eh.nk < 64 THEN CAST(eh.nk AS DOUBLE)
            ELSE 63.0 * CAST(1152921504606846976 AS DOUBLE) / eh.kth
            END, 6) AS est_hashes
        FROM eu JOIN eh ON eu.host = eh.host)
      SELECT host, est_urls, est_hashes,
        round(est_urls / est_hashes, 6) AS ratio,
        (est_urls >= 50.0 AND round(est_urls / est_hashes, 6) >= 10.0)
          AS flagged
      FROM est ORDER BY host"""))

  /** Registrable-domain (eTLD+1) extraction on the gate ([[graft.ops
    * .UrlResolve.registrableDomain]] — the PARTY boundary a crawler
    * schedules and scores by, longest-suffix match against a frozen
    * PSL subset). Six host families cycle per doc: www + bare
    * (one party), a ccTLD second-level registry (co.uk), a PRIVATE
    * registry (blogspot.com — each subdomain its own party), a
    * 5-label org, and an IPv4 literal (its own party, verbatim).
    * Oracle: the expected mapping is construction arithmetic. */
  lazy val qRegistrableDomain = Q(
    "q426_registrable_domain",
    (s, dir) => {
      import s.implicits._
      val d = table(s, dir, "documents")
        .select((col("doc_id") % 29).as("k"), (col("doc_id") % 6).as("m"))
      val ks = col("k").cast("string")
      val hosts = d.select(
          when(col("m") === 0, concat(lit("www.site"), ks, lit(".com")))
            .when(col("m") === 1,
              concat(lit("a.b.site"), ks, lit(".co.uk")))
            .when(col("m") === 2,
              concat(lit("blog"), ks, lit(".blogspot.com")))
            .when(col("m") === 3, concat(lit("site"), ks, lit(".com")))
            .when(col("m") === 4,
              concat(lit("deep.x.y.site"), ks, lit(".org")))
            .otherwise(concat(lit("203.0.113."), ks)).as("host"))
        .distinct()
      hosts.as[String]
        .map(h => (h, graft.ops.UrlResolve.registrableDomain(h)))
        .toDF("host", "domain")
        .orderBy("host")
    },
    Some("""WITH d AS (SELECT DISTINCT doc_id % 29 AS k,
          doc_id % 6 AS m FROM documents),
      h AS (SELECT
          CASE m
            WHEN 0 THEN 'www.site' || CAST(k AS VARCHAR) || '.com'
            WHEN 1 THEN 'a.b.site' || CAST(k AS VARCHAR) || '.co.uk'
            WHEN 2 THEN 'blog' || CAST(k AS VARCHAR) || '.blogspot.com'
            WHEN 3 THEN 'site' || CAST(k AS VARCHAR) || '.com'
            WHEN 4 THEN 'deep.x.y.site' || CAST(k AS VARCHAR) || '.org'
            ELSE '203.0.113.' || CAST(k AS VARCHAR) END AS host,
          CASE m
            WHEN 0 THEN 'site' || CAST(k AS VARCHAR) || '.com'
            WHEN 1 THEN 'site' || CAST(k AS VARCHAR) || '.co.uk'
            WHEN 2 THEN 'blog' || CAST(k AS VARCHAR) || '.blogspot.com'
            WHEN 3 THEN 'site' || CAST(k AS VARCHAR) || '.com'
            WHEN 4 THEN 'site' || CAST(k AS VARCHAR) || '.org'
            ELSE '203.0.113.' || CAST(k AS VARCHAR) END AS domain
        FROM d)
      SELECT DISTINCT host, domain FROM h ORDER BY host"""))

  /** DOMAIN-grouped politeness on the gate (composition:
    * [[graft.ops.UrlResolve.registrableDomain]] → [[graft.ops
    * .CrawlSchedule.dueSchedule]] — the politeness clock runs per
    * PARTY, not per hostname: www.siteK.com and siteK.com interleave
    * on ONE clock, while each blogspot subdomain keeps its own). The
    * q426 host families feed a due table; the schedule keys on the
    * registrable domain. Oracle: the arithmetic domain mapping + the
    * q410 closed-form window replay keyed by it. */
  lazy val qDomainPoliteness = Q(
    "q427_domain_politeness",
    (s, dir) => {
      import s.implicits._
      val d = table(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 29).as("k"),
          (col("doc_id") % 6).as("m"))
      val ks = col("k").cast("string")
      val rows = d.select(col("doc_id"),
        when(col("m") === 0, concat(lit("www.site"), ks, lit(".com")))
          .when(col("m") === 1,
            concat(lit("a.b.site"), ks, lit(".co.uk")))
          .when(col("m") === 2,
            concat(lit("blog"), ks, lit(".blogspot.com")))
          .when(col("m") === 3, concat(lit("site"), ks, lit(".com")))
          .when(col("m") === 4,
            concat(lit("deep.x.y.site"), ks, lit(".org")))
          .otherwise(concat(lit("203.0.113."), ks)).as("host"),
        ((col("doc_id") % 37) * 1000000L).as("due_us"))
      val hostDomain = rows.select(col("host")).distinct().as[String]
        .map(h => (h, graft.ops.UrlResolve.registrableDomain(h)))
        .toDF("host", "domain")
      val due = rows.join(broadcast(hostDomain), Seq("host"))
        .select(col("domain"),
          concat(lit("http://"), col("host"), lit("/d/"),
            col("doc_id").cast("string")).as("url"),
          col("due_us"))
      graft.ops.CrawlSchedule.dueSchedule(due, "domain", "url",
          "due_us", delayUs = 2000000L)
        .withColumnRenamed("host", "domain")
        .orderBy("domain", "slot")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 29 AS k,
          doc_id % 6 AS m FROM documents),
      r AS (SELECT doc_id,
          CASE m
            WHEN 0 THEN 'www.site' || CAST(k AS VARCHAR) || '.com'
            WHEN 1 THEN 'a.b.site' || CAST(k AS VARCHAR) || '.co.uk'
            WHEN 2 THEN 'blog' || CAST(k AS VARCHAR) || '.blogspot.com'
            WHEN 3 THEN 'site' || CAST(k AS VARCHAR) || '.com'
            WHEN 4 THEN 'deep.x.y.site' || CAST(k AS VARCHAR) || '.org'
            ELSE '203.0.113.' || CAST(k AS VARCHAR) END AS host,
          CASE m
            WHEN 0 THEN 'site' || CAST(k AS VARCHAR) || '.com'
            WHEN 1 THEN 'site' || CAST(k AS VARCHAR) || '.co.uk'
            WHEN 2 THEN 'blog' || CAST(k AS VARCHAR) || '.blogspot.com'
            WHEN 3 THEN 'site' || CAST(k AS VARCHAR) || '.com'
            WHEN 4 THEN 'site' || CAST(k AS VARCHAR) || '.org'
            ELSE '203.0.113.' || CAST(k AS VARCHAR) END AS domain,
          (doc_id % 37) * 1000000 AS due_us
        FROM d),
      due AS (SELECT domain,
          'http://' || host || '/d/' || CAST(doc_id AS VARCHAR) AS url,
          due_us
        FROM r),
      sl AS (SELECT domain, url, due_us,
          CAST(row_number() OVER (PARTITION BY domain
            ORDER BY due_us, url) - 1 AS INT) AS slot
        FROM due),
      adj AS (SELECT *, due_us - 2000000 * slot AS a FROM sl)
      SELECT domain, url, due_us, slot,
        CAST(2000000 * slot + max(a) OVER (PARTITION BY domain
          ORDER BY due_us, url ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS fetch_at_us
      FROM adj ORDER BY domain, slot"""))

  /** HOST-template stripping on the gate ([[graft.ops.TextAnalysis
    * .hostTemplateStrip]] — the CCNet-style per-site boilerplate
    * pass: a line on ≥ 80% of a host's pages is chrome, not
    * content). Every page carries its host's nav + footer (df 100%,
    * stripped), a unique body line (kept), and every second page a
    * promo line (df ≈ 50% — UNDER the threshold, kept: the gate
    * pins that near-majority chrome survives an 0.8 bar). Oracle:
    * construction arithmetic per page. */
  lazy val qHostTemplate = Q(
    "q428_host_template",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        col("source"))
      val pages = d.select(
        concat(col("source"), lit(".example")).as("host"),
        col("doc_id").as("id"),
        concat(lit("nav-"), col("source"), lit("\nbody-"),
          col("doc_id").cast("string"),
          // parity of the WITHIN-source row index — doc_id parity
          // itself is constant per source (source = src{doc_id%20})
          when(expr("(doc_id div 20) % 2") === 0,
            concat(lit("\npromo-"), col("source"))).otherwise(lit("")),
          lit("\nfooter-"), col("source")).as("text"))
      graft.ops.TextAnalysis.hostTemplateStrip(pages, "host", "id",
          "text", minPages = 5L, minFraction = 0.8)
        .orderBy("id")
    },
    Some("""WITH d AS (SELECT doc_id, source FROM documents)
      SELECT doc_id AS id, source || '.example' AS host,
        CASE WHEN (doc_id // 20) % 2 = 0 THEN 4 ELSE 3 END AS n_lines,
        2 AS n_stripped,
        'body-' || CAST(doc_id AS VARCHAR) ||
          CASE WHEN (doc_id // 20) % 2 = 0
            THEN chr(10) || 'promo-' || source ELSE '' END AS text_clean
      FROM d ORDER BY id"""))

  /** HITS hub/authority scores on the gate ([[graft.ops.GraphStats
    * .hits]] — Kleinberg JACM 1999 in the q393 integer-quota
    * discipline: exact BIGINT in-sums, max-normalized with floor
    * division each half-step; L2 normalization would need a sqrt no
    * two float engines agree on). The constructed graph is
    * deliberately IRREGULAR (hub k's out-degree is 4 or 5 by k%3;
    * three super-sink authorities collect the second tier), so the
    * second iteration genuinely reorders. Oracle: both iterations
    * unrolled in DuckDB CTEs, every sum cast off HUGEINT. */
  lazy val qHits = Q(
    "q429_hits",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select((col("doc_id") % 20).as("k"), (col("doc_id") % 7).as("j"))
        .distinct()
      val e1 = d.where((col("k") + col("j")) % 3 =!= 0)
        .select((col("k") + 100).as("src"), col("j").as("dst"))
      val e2 = d.select(col("j").as("src"),
        (lit(200) + col("j") % 3).as("dst")).distinct()
      graft.ops.GraphStats.hits(e1.unionAll(e2), "src", "dst",
          iterations = 2, scale = 1000000L)
        .orderBy("id")
    },
    Some("""WITH d AS (SELECT DISTINCT doc_id % 20 AS k,
          doc_id % 7 AS j FROM documents),
      e AS (SELECT DISTINCT 100 + k AS src, j AS dst FROM d
          WHERE (k + j) % 3 <> 0
        UNION
        SELECT DISTINCT j, 200 + j % 3 FROM d),
      n AS (SELECT DISTINCT id FROM
        (SELECT src AS id FROM e UNION SELECT dst FROM e)),
      ra1 AS (SELECT dst, CAST(sum(1000000) AS BIGINT) AS raw
        FROM e GROUP BY 1),
      ma1 AS (SELECT max(raw) AS m FROM ra1),
      a1 AS (SELECT n.id, CAST(CASE WHEN ra1.raw IS NULL THEN 0
          ELSE 1000000 * ra1.raw // ma1.m END AS BIGINT) AS s
        FROM n LEFT JOIN ra1 ON ra1.dst = n.id CROSS JOIN ma1),
      rh1 AS (SELECT e.src, CAST(sum(a1.s) AS BIGINT) AS raw
        FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1),
      mh1 AS (SELECT max(raw) AS m FROM rh1),
      h1 AS (SELECT n.id, CAST(CASE WHEN rh1.raw IS NULL THEN 0
          ELSE 1000000 * rh1.raw // mh1.m END AS BIGINT) AS s
        FROM n LEFT JOIN rh1 ON rh1.src = n.id CROSS JOIN mh1),
      ra2 AS (SELECT e.dst, CAST(sum(h1.s) AS BIGINT) AS raw
        FROM e JOIN h1 ON h1.id = e.src GROUP BY 1),
      ma2 AS (SELECT max(raw) AS m FROM ra2),
      a2 AS (SELECT n.id, CAST(CASE WHEN ra2.raw IS NULL THEN 0
          ELSE 1000000 * ra2.raw // ma2.m END AS BIGINT) AS s
        FROM n LEFT JOIN ra2 ON ra2.dst = n.id CROSS JOIN ma2),
      rh2 AS (SELECT e.src, CAST(sum(a2.s) AS BIGINT) AS raw
        FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1),
      mh2 AS (SELECT max(raw) AS m FROM rh2),
      h2 AS (SELECT n.id, CAST(CASE WHEN rh2.raw IS NULL THEN 0
          ELSE 1000000 * rh2.raw // mh2.m END AS BIGINT) AS s
        FROM n LEFT JOIN rh2 ON rh2.src = n.id CROSS JOIN mh2)
      SELECT n.id, a2.s AS auth_q, h2.s AS hub_q
      FROM n JOIN a2 ON a2.id = n.id JOIN h2 ON h2.id = n.id
      ORDER BY n.id"""))

  /** Calibration reliability bins on the gate ([[graft.ops.LabelQc
    * .calibrationBins]] — is the quality classifier's score a
    * probability?). Scores and labels derive arithmetically with a
    * DELIBERATE miscalibration (label rate tracks s², so low bins
    * over-confident, high bins under-) — every bin's gap is
    * non-trivial. Oracle: the identical binned aggregate. */
  lazy val qCalibrationBins = Q(
    "q430_calibration_bins",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
        .withColumn("s",
          ((col("doc_id") * 37) % 100) / lit(100.0) + 0.005)
        .withColumn("y",
          when(((col("doc_id") * 13) % 100) / lit(100.0) <
            col("s") * col("s"), 1.0).otherwise(0.0))
      graft.ops.LabelQc.calibrationBins(d, "s", "y", bins = 10)
        .orderBy("bin")
    },
    Some("""WITH r AS (SELECT
          ((doc_id*37) % 100) / 100.0 + 0.005 AS s,
          CASE WHEN ((doc_id*13) % 100) / 100.0 <
            (((doc_id*37) % 100) / 100.0 + 0.005) *
            (((doc_id*37) % 100) / 100.0 + 0.005)
            THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
      b AS (SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin, s, y
        FROM r)
      SELECT bin, count(*) AS n,
        round(avg(s), 8) AS confidence,
        round(avg(y), 8) AS accuracy,
        round(round(avg(y), 8) - round(avg(s), 8), 8) AS gap
      FROM b GROUP BY bin ORDER BY bin"""))

  /** Calibration summary on the gate ([[graft.ops.LabelQc
    * .calibrationSummary]] — ECE/MCE per Naeini et al. AAAI 2015 +
    * the Brier score): one row over the q430 construction; ECE/MCE
    * from the UNROUNDED bin stats, rounded once. */
  lazy val qCalibrationEce = Q(
    "q431_calibration_ece",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
        .withColumn("s",
          ((col("doc_id") * 37) % 100) / lit(100.0) + 0.005)
        .withColumn("y",
          when(((col("doc_id") * 13) % 100) / lit(100.0) <
            col("s") * col("s"), 1.0).otherwise(0.0))
      graft.ops.LabelQc.calibrationSummary(d, "s", "y", bins = 10)
    },
    Some("""WITH r AS (SELECT
          ((doc_id*37) % 100) / 100.0 + 0.005 AS s,
          CASE WHEN ((doc_id*13) % 100) / 100.0 <
            (((doc_id*37) % 100) / 100.0 + 0.005) *
            (((doc_id*37) % 100) / 100.0 + 0.005)
            THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
      b AS (SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin, s, y
        FROM r),
      pb AS (SELECT bin, count(*) AS n, avg(s) AS c, avg(y) AS a
        FROM b GROUP BY bin),
      br AS (SELECT round(avg((s - y) * (s - y)), 8) AS brier,
          count(*) AS n FROM b)
      SELECT round(sum(abs(pb.a - pb.c) * pb.n) / sum(pb.n), 8) AS ece,
        round(max(abs(pb.a - pb.c)), 8) AS mce,
        br.brier, br.n
      FROM pb CROSS JOIN br GROUP BY br.brier, br.n"""))

  /** Bradley–Terry preference ranking on the gate ([[graft.ops
    * .Preference.bradleyTerry]] — Hunter's MM iteration over
    * pairwise (winner, loser) rows, the RLHF reward-data primitive).
    * Eight planted "models" with win probability rising for lower
    * indices ((doc_id·11)%10 < 5+b−a), so the fitted strengths must
    * recover the planted order. The corpus-scale (winner, loser)
    * aggregate is the only big shuffle; the MM loop runs on the
    * item²-dimensioned matrix (the centroid discipline). Oracle:
    * both MM iterations unrolled in DuckDB, rank on the ROUNDED
    * score. */
  lazy val qBradleyTerry = Q(
    "q432_bradley_terry",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("a"),
          expr("(doc_id div 8) % 8").as("b"))
        .where(col("a") =!= col("b"))
      val aWins = (col("doc_id") * 11) % 10 < lit(5) + col("b") - col("a")
      val pairs = d.select(
        concat(lit("m"), when(aWins, col("a")).otherwise(col("b"))
          .cast("string")).as("w"),
        concat(lit("m"), when(aWins, col("b")).otherwise(col("a"))
          .cast("string")).as("l"))
      graft.ops.Preference.bradleyTerry(pairs, "w", "l",
          iterations = 2)
        .orderBy("item")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 8 AS a,
          (doc_id // 8) % 8 AS b FROM documents
        WHERE doc_id % 8 <> (doc_id // 8) % 8),
      g AS (SELECT
          CASE WHEN (doc_id*11) % 10 < 5 + b - a THEN a ELSE b END AS w,
          CASE WHEN (doc_id*11) % 10 < 5 + b - a THEN b ELSE a END AS l
        FROM d),
      wl AS (SELECT 'm' || CAST(w AS VARCHAR) AS w,
          'm' || CAST(l AS VARCHAR) AS l, count(*) AS n
        FROM g GROUP BY 1, 2),
      items AS (SELECT DISTINCT i FROM
        (SELECT w AS i FROM wl UNION SELECT l FROM wl)),
      wt AS (SELECT items.i AS i,
          CAST(coalesce(sum(wl.n), 0) AS BIGINT) AS wins
        FROM items LEFT JOIN wl ON wl.w = items.i GROUP BY items.i),
      m AS (SELECT i, j, CAST(sum(n) AS DOUBLE) AS g FROM
          (SELECT w AS i, l AS j, n FROM wl
           UNION ALL SELECT l, w, n FROM wl)
        GROUP BY 1, 2),
      d1 AS (SELECT m.i, sum(m.g / 2.0) AS denom FROM m GROUP BY 1),
      p1r AS (SELECT wt.i, wt.wins,
          CASE WHEN d1.denom > 0 THEN wt.wins / d1.denom ELSE 0 END
            AS p
        FROM wt JOIN d1 ON d1.i = wt.i),
      s1 AS (SELECT sum(p) AS s, count(*) AS k FROM p1r),
      p1 AS (SELECT i, p * k / s AS p FROM p1r CROSS JOIN s1),
      d2 AS (SELECT m.i, sum(m.g / (pi.p + pj.p)) AS denom
        FROM m JOIN p1 pi ON pi.i = m.i JOIN p1 pj ON pj.i = m.j
        GROUP BY 1),
      p2r AS (SELECT wt.i, wt.wins,
          CASE WHEN d2.denom > 0 THEN wt.wins / d2.denom ELSE 0 END
            AS p
        FROM wt JOIN d2 ON d2.i = wt.i),
      s2 AS (SELECT sum(p) AS s, count(*) AS k FROM p2r),
      p2 AS (SELECT i, wins, p * k / s AS p FROM p2r CROSS JOIN s2),
      gtot AS (SELECT i, CAST(sum(g) AS BIGINT) AS games
        FROM m GROUP BY 1)
      SELECT p2.i AS item, p2.wins, gtot.games,
        round(p2.p, 6) AS bt_score,
        CAST(row_number() OVER (ORDER BY round(p2.p, 6) DESC, p2.i)
          AS INT) AS rank
      FROM p2 JOIN gtot ON gtot.i = p2.i
      ORDER BY item"""))

  /** Cohen's κ on the gate ([[graft.ops.LabelQc.cohenKappa]] —
    * two-rater chance-corrected agreement, the annotation-QC
    * number). Rater B copies rater A on ~70% of rows and rotates
    * the label otherwise, over an IMBALANCED three-label marginal —
    * exactly the regime where raw percent agreement flatters.
    * Oracle: the identical marginal arithmetic. */
  lazy val qCohenKappa = Q(
    "q433_cohen_kappa",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val a = when((col("doc_id") * 3) % 5 < 2, "good")
        .when((col("doc_id") * 3) % 5 < 4, "ok").otherwise("bad")
      val rot = when(a === "good", "ok").when(a === "ok", "bad")
        .otherwise("good")
      val rows = d.select(a.as("la"),
        when((col("doc_id") * 7) % 10 < 7, a).otherwise(rot).as("lb"))
      graft.ops.LabelQc.cohenKappa(rows, "la", "lb")
    },
    Some("""WITH d AS (SELECT doc_id,
          CASE WHEN (doc_id*3) % 5 < 2 THEN 'good'
            WHEN (doc_id*3) % 5 < 4 THEN 'ok' ELSE 'bad' END AS la
        FROM documents),
      r AS (SELECT la,
          CASE WHEN (doc_id*7) % 10 < 7 THEN la
            ELSE CASE la WHEN 'good' THEN 'ok' WHEN 'ok' THEN 'bad'
              ELSE 'good' END END AS lb
        FROM d),
      n AS (SELECT count(*) AS n,
          avg(CASE WHEN la = lb THEN 1.0 ELSE 0.0 END) AS po FROM r),
      ma AS (SELECT la AS c, count(*) AS ca FROM r GROUP BY 1),
      mb AS (SELECT lb AS c, count(*) AS cb FROM r GROUP BY 1),
      pe AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS sum_ab
        FROM ma JOIN mb ON ma.c = mb.c)
      SELECT n.n, round(n.po, 8) AS po,
        round(CAST(sum_ab AS DOUBLE) / (n.n * n.n), 8) AS pe,
        CASE WHEN CAST(sum_ab AS DOUBLE) / (n.n * n.n) < 1.0 THEN
          round((n.po - CAST(sum_ab AS DOUBLE) / (n.n * n.n)) /
            (1.0 - CAST(sum_ab AS DOUBLE) / (n.n * n.n)), 8) END
          AS kappa
      FROM n CROSS JOIN pe"""))

  /** Fleiss' κ on the gate ([[graft.ops.LabelQc.fleissKappa]] — the
    * n-rater panel generalization, fixed 3 raters per item). Each
    * rater perturbs the base label on its own ~30% arithmetic
    * pattern, so per-item agreement varies across the whole range.
    * Oracle: the identical (item,label) cell arithmetic. */
  lazy val qFleissKappa = Q(
    "q434_fleiss_kappa",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      def rater(t: Int) = d.select(col("doc_id").as("item"),
        concat(lit("c"),
          ((col("doc_id") +
            when((col("doc_id") * (t + 3)) % 10 < 3, 1).otherwise(0))
            % 3).cast("string")).as("label"))
      val rows = rater(0).unionAll(rater(1)).unionAll(rater(2))
      graft.ops.LabelQc.fleissKappa(rows, "item", "label",
        ratersPerItem = 3)
    },
    Some("""WITH d AS (SELECT doc_id FROM documents),
      rows_ AS (
        SELECT doc_id AS item, 'c' || CAST((doc_id +
            CASE WHEN (doc_id*3) % 10 < 3 THEN 1 ELSE 0 END) % 3
            AS VARCHAR) AS label FROM d
        UNION ALL
        SELECT doc_id, 'c' || CAST((doc_id +
            CASE WHEN (doc_id*4) % 10 < 3 THEN 1 ELSE 0 END) % 3
            AS VARCHAR) FROM d
        UNION ALL
        SELECT doc_id, 'c' || CAST((doc_id +
            CASE WHEN (doc_id*5) % 10 < 3 THEN 1 ELSE 0 END) % 3
            AS VARCHAR) FROM d),
      cell AS (SELECT item, label, count(*) AS nic FROM rows_
        GROUP BY 1, 2),
      pi AS (SELECT item, CAST(sum(nic) AS BIGINT) AS ni,
          CAST(sum(nic * nic) AS BIGINT) AS sq FROM cell GROUP BY 1),
      pb AS (SELECT count(*) AS n_items,
          avg((sq - 3.0) / (3.0 * 2.0)) AS p_bar FROM pi),
      tot AS (SELECT CAST(sum(ni) AS BIGINT) AS tot FROM pi),
      pe AS (SELECT sum((CAST(nc AS DOUBLE) / tot) *
            (CAST(nc AS DOUBLE) / tot)) AS pe_bar
        FROM (SELECT label, CAST(sum(nic) AS BIGINT) AS nc FROM cell
          GROUP BY 1) CROSS JOIN tot)
      SELECT pb.n_items, round(pb.p_bar, 8) AS p_bar,
        round(pe.pe_bar, 8) AS pe_bar,
        CASE WHEN pe.pe_bar < 1.0 THEN
          round((pb.p_bar - pe.pe_bar) / (1.0 - pe.pe_bar), 8) END
          AS kappa
      FROM pb CROSS JOIN pe"""))

  /** Ranking metrics on the gate ([[graft.ops.LabelQc
    * .rankingMetrics]] — ROC-AUC in the tie-safe average-rank
    * Mann–Whitney form, Gini, and step-interpolated average
    * precision: all functions of the DISTINCT-SCORE table, never of
    * a per-row tie order, so both engines replay them exactly). Same
    * (score, label) construction as the calibration gates. */
  lazy val qRankingMetrics = Q(
    "q435_ranking_metrics",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
        .withColumn("s",
          ((col("doc_id") * 37) % 100) / lit(100.0) + 0.005)
        .withColumn("y",
          when(((col("doc_id") * 13) % 100) / lit(100.0) <
            col("s") * col("s"), 1.0).otherwise(0.0))
      graft.ops.LabelQc.rankingMetrics(d, "s", "y")
    },
    Some("""WITH r AS (SELECT
          ((doc_id*37) % 100) / 100.0 + 0.005 AS s,
          CASE WHEN ((doc_id*13) % 100) / 100.0 <
            (((doc_id*37) % 100) / 100.0 + 0.005) *
            (((doc_id*37) % 100) / 100.0 + 0.005)
            THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
      ps AS (SELECT s, count(*) AS cnt, sum(y) AS pos
        FROM r GROUP BY 1),
      rk AS (SELECT s, cnt, pos,
          sum(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
          sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
            AS tp,
          sum(cnt) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
            AS n_at
        FROM ps),
      rk2 AS (SELECT *, CAST(cum AS DOUBLE) - (cnt - 1) / 2.0
          AS avg_rank FROM rk),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS np,
          sum(pos * avg_rank) AS spr FROM rk2),
      apx AS (SELECT sum((rec - prev_rec) * prec) AS ap_raw FROM
        (SELECT CAST(tp AS DOUBLE) / n_at AS prec,
            CAST(tp AS DOUBLE) / np AS rec,
            coalesce(lag(CAST(tp AS DOUBLE) / np)
              OVER (ORDER BY s DESC), 0.0) AS prev_rec
          FROM rk2 CROSS JOIN tot WHERE np > 0))
      SELECT tot.n, tot.np AS n_pos,
        CASE WHEN tot.np > 0 AND tot.n > tot.np THEN
          round((tot.spr - tot.np * (tot.np + 1) / 2.0) /
            (CAST(tot.np AS DOUBLE) * (tot.n - tot.np)), 8) END
          AS auc,
        CASE WHEN tot.np > 0 AND tot.n > tot.np THEN
          round((tot.spr - tot.np * (tot.np + 1) / 2.0) /
            (CAST(tot.np AS DOUBLE) * (tot.n - tot.np)) * 2 - 1, 8)
          END AS gini,
        CASE WHEN tot.np > 0 THEN round(apx.ap_raw, 8) END AS ap
      FROM tot CROSS JOIN apx"""))

  /** PR curve on the gate ([[graft.ops.LabelQc.prCurve]] — precision
    * and recall at every distinct score threshold, descending; the
    * curve table is score-dimensioned). */
  lazy val qPrCurve = Q(
    "q436_pr_curve",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
        .withColumn("s",
          ((col("doc_id") * 37) % 100) / lit(100.0) + 0.005)
        .withColumn("y",
          when(((col("doc_id") * 13) % 100) / lit(100.0) <
            col("s") * col("s"), 1.0).otherwise(0.0))
      graft.ops.LabelQc.prCurve(d, "s", "y")
        .orderBy(col("threshold").desc)
    },
    Some("""WITH r AS (SELECT
          ((doc_id*37) % 100) / 100.0 + 0.005 AS s,
          CASE WHEN ((doc_id*13) % 100) / 100.0 <
            (((doc_id*37) % 100) / 100.0 + 0.005) *
            (((doc_id*37) % 100) / 100.0 + 0.005)
            THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
      ps AS (SELECT s, count(*) AS cnt, sum(y) AS pos
        FROM r GROUP BY 1),
      np AS (SELECT CAST(sum(pos) AS BIGINT) AS np FROM ps),
      rk AS (SELECT s,
          sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
            AS tp,
          sum(cnt) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
            AS n_at
        FROM ps)
      SELECT s AS threshold, CAST(tp AS BIGINT) AS tp,
        CAST(n_at - tp AS BIGINT) AS fp,
        round(CAST(tp AS DOUBLE) / n_at, 8) AS precision,
        CASE WHEN np.np > 0
          THEN round(CAST(tp AS DOUBLE) / np.np, 8) END AS recall
      FROM rk CROSS JOIN np ORDER BY threshold DESC"""))

  /** Krippendorff's α on the gate ([[graft.ops.LabelQc
    * .krippendorffAlpha]] — the ragged-panel agreement coefficient
    * Fleiss points to). Panels VARY per item (2 + doc_id%3 raters,
    * so 2/3/4-rater units all occur); every 11th item gets a single
    * rating and must be DROPPED as unpairable, not silently kept.
    * Oracle: the identical coincidence arithmetic. */
  lazy val qKrippendorff = Q(
    "q437_krippendorff",
    (s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
        .withColumn("nr",
          when(col("doc_id") % 11 === 0, 1)
            .otherwise((lit(2) + col("doc_id") % 3).cast("int")))
      val rows = d
        .select(col("doc_id").as("item"),
          explode(sequence(lit(0), col("nr") - 1)).as("t"))
        .select(col("item"),
          concat(lit("c"),
            ((col("item") +
              when((col("item") * (col("t") + 3)) % 10 < 3, 1)
                .otherwise(0)) % 3).cast("string")).as("label"))
      graft.ops.LabelQc.krippendorffAlpha(rows, "item", "label")
    },
    Some("""WITH d AS (SELECT doc_id,
          CASE WHEN doc_id % 11 = 0 THEN 1
            ELSE 2 + CAST(doc_id % 3 AS INT) END AS nr
        FROM documents),
      rows_ AS (SELECT doc_id AS item,
          'c' || CAST((doc_id +
            CASE WHEN (doc_id * (t.t + 3)) % 10 < 3 THEN 1 ELSE 0 END)
            % 3 AS VARCHAR) AS label
        FROM d, (SELECT unnest(range(0, 4)) AS t) t
        WHERE t.t < d.nr),
      cell AS (SELECT item, label, count(*) AS nic FROM rows_
        GROUP BY 1, 2),
      pu AS (SELECT item, CAST(sum(nic) AS BIGINT) AS nu,
          CAST(sum(nic * nic) AS BIGINT) AS sq FROM cell GROUP BY 1),
      pair AS (SELECT * FROM pu WHERE nu >= 2),
      ua AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
          CAST(sum(nu) AS BIGINT) AS n,
          sum(CAST(nu * nu - sq AS DOUBLE) / (nu - 1)) AS num
        FROM pair),
      drp AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM pu
        WHERE nu < 2),
      marg AS (SELECT CAST(sum(nc * nc) AS BIGINT) AS sum_nc2 FROM
        (SELECT cell.label, CAST(sum(cell.nic) AS BIGINT) AS nc
          FROM cell JOIN pair ON pair.item = cell.item
          GROUP BY 1))
      SELECT ua.n_units, drp.n_dropped, ua.n,
        CASE WHEN ua.n * ua.n - marg.sum_nc2 > 0 THEN
          round(1.0 - CAST(ua.n - 1 AS DOUBLE) * ua.num /
            CAST(ua.n * ua.n - marg.sum_nc2 AS DOUBLE), 8) END
          AS alpha
      FROM ua CROSS JOIN marg CROSS JOIN drp"""))

  /** Crawl-trap host detection on the gate ([[graft.ops.Dust
    * .trapHosts]] — a host whose distinct-URL count races ahead of
    * its distinct-content count is minting URLs, not pages). Planted
    * hosts: the source-derived hosts are healthy (one content per
    * page URL, ratio 1), `cal.example` serves every doc_id a unique
    * calendar URL from 3 page bodies, `facet.example` a unique
    * session-tagged URL from 40 bodies — both must flag at
    * minUrls=50, maxRatio=10, with depth and query-rate signals
    * replayed exactly. Oracle: the identical per-host aggregate in
    * DuckDB. */
  lazy val qCrawlTraps = Q(
    "q413_crawl_traps",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 120).as("pid"))
      val crawl = d.select(
          concat(lit("http://"), col("source"), lit(".example/p/"),
            col("pid").cast("string")).as("url"),
          concat(lit("h-"), col("source"), lit("-"),
            col("pid").cast("string")).as("hash")).distinct()
        .unionAll(d.select(
          concat(lit("http://cal.example/cal?d="),
            col("doc_id").cast("string")).as("url"),
          concat(lit("c"), (col("doc_id") % 3).cast("string"))
            .as("hash")))
        .unionAll(d.select(
          concat(lit("http://facet.example/list/"),
            (col("doc_id") % 40).cast("string"), lit("/"),
            (col("doc_id") % 7).cast("string"), lit("?s="),
            col("doc_id").cast("string")).as("url"),
          concat(lit("f"), (col("doc_id") % 40).cast("string"))
            .as("hash")))
      graft.ops.Dust.trapHosts(crawl, "url", "hash",
          minUrls = 50L, maxRatio = 10.0)
        .orderBy("host")
    },
    Some("""WITH d AS (SELECT doc_id, source, doc_id % 120 AS pid
          FROM documents),
      crawl AS (
        SELECT DISTINCT 'http://' || source || '.example/p/' ||
            CAST(pid AS VARCHAR) AS url,
          'h-' || source || '-' || CAST(pid AS VARCHAR) AS hash FROM d
        UNION ALL
        SELECT 'http://cal.example/cal?d=' || CAST(doc_id AS VARCHAR),
          'c' || CAST(doc_id % 3 AS VARCHAR) FROM d
        UNION ALL
        SELECT 'http://facet.example/list/' ||
            CAST(doc_id % 40 AS VARCHAR) || '/' ||
            CAST(doc_id % 7 AS VARCHAR) || '?s=' ||
            CAST(doc_id AS VARCHAR),
          'f' || CAST(doc_id % 40 AS VARCHAR) FROM d),
      rows_ AS (SELECT DISTINCT url, hash FROM crawl),
      p AS (SELECT url, hash,
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)
            AS host,
          regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
          CASE WHEN instr(url, '?') > 0 THEN 1.0 ELSE 0.0 END AS hq
        FROM rows_),
      pd AS (SELECT host, url, hash, hq,
          CASE WHEN path = '' THEN 0
            ELSE len(string_split(path, '/')) - 1 END AS depth
        FROM p)
      SELECT host,
        CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
        CAST(count(DISTINCT hash) AS BIGINT) AS n_contents,
        round(CAST(count(DISTINCT url) AS DOUBLE) /
          count(DISTINCT hash), 8) AS url_per_content,
        round(avg(depth), 8) AS avg_depth,
        CAST(max(depth) AS INT) AS max_depth,
        round(avg(hq), 8) AS p_query,
        (count(DISTINCT url) >= 50 AND
         CAST(count(DISTINCT url) AS DOUBLE) / count(DISTINCT hash)
           >= 10.0) AS is_trap
      FROM pd GROUP BY host ORDER BY host"""))
}
