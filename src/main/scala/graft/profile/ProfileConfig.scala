package graft.profile

/** Engine configuration.
  *
  * Mirrors the reference's config surface (reference:
  * `src/pandas_profiling/config_default.yaml:1-194` and `config.py:11-178`)
  * as a typed case class. Only knobs that change engine behavior are kept;
  * presentation-only keys (HTML styling etc.) are out of scope.
  *
  * Scale notes: `exactDistinct` / `exactQuantiles` select between
  * shuffle-exact semantics (used for oracle parity at test scale) and
  * sketch-based semantics (HLL++ / Greenwald-Khanna) for the 100 TB path.
  */
final case class ProfileConfig(
    /** Quantile probabilities (reference: config_default.yaml:28-33). */
    quantiles: Seq[Double] = Seq(0.05, 0.25, 0.5, 0.75, 0.95),
    /** Relative error for approximate quantiles
      * (reference: config_default.yaml:98 `spark.quantile_error: 0.05`;
      * we default 5x tighter — the GK sketch cost scales with 1/error,
      * so 0.001 was measurably slowing the fused and MAD passes). */
    quantileRelativeError: Double = 0.01,
    /** Exact (sort-based) quantiles instead of GK sketch. Exact is fine up
      * to ~1e8 rows per column; at 100 TB keep false. */
    exactQuantiles: Boolean = false,
    /** Exact distinct/unique counts (groupBy-based). When false, uses
      * approx_count_distinct (HLL++) and skips n_unique. */
    exactDistinct: Boolean = true,
    /** HLL++ relative standard deviation for sketch-mode distinct
      * counts. Spark's HLL++ is dense-only, so small cardinalities see
      * the full rsd as noise — the 0.05 default gave visible 5-6%
      * errors. 0.02 halves register memory vs 0.01 and measured ~4x
      * faster (buffer merge cost grows ~1/rsd^2; 0.01 was 10s vs 3s at
      * sf0.1) while keeping 3-sigma error at 6%. */
    distinctRsd: Double = 0.02,
    /** Top-K values transferred to the driver per column
      * (reference: config_default.yaml:100 `spark.to_pandas_limit: 250`). */
    topK: Int = 250,
    /** Sketch-mode (exactDistinct=false) top-K: items tracked per column
      * by the approx_top_k frequent-items sketch (DataSketches
      * ItemsSketch, mergeable; Spark 4's built-in aggregate). Counts are
      * EXACT while a column's cardinality stays within the sketch map
      * (~1.5x this value) and carry a ~3.5n/(2*maxTracked) worst-case
      * error above it; 4096 tracks every value of low-cardinality
      * columns exactly and costs ~a few MB per column per partial
      * buffer. 0 disables sketch-mode top-K. */
    sketchTopKMaxTracked: Int = 4096,
    /** Histogram max bin count (reference: config_default.yaml:134-141). */
    histogramBins: Int = 50,
    /** Numeric columns with <= this many distinct values are demoted to
      * Categorical (reference: config_default.yaml:35
      * `low_categorical_threshold: 5`, typeset_relations.py:68-77). */
    lowCategoricalThreshold: Int = 5,
    /** HIGH_CARDINALITY alert threshold (reference: config_default.yaml:41). */
    highCardinalityThreshold: Int = 50,
    /** SKEWED alert threshold (reference: config_default.yaml:34). */
    skewnessThreshold: Double = 20.0,
    /** HIGH_CORRELATION alert threshold (reference: config_default.yaml:70-92). */
    correlationThreshold: Double = 0.9,
    /** UNIFORM alert: chi-square p-value threshold (reference: messages.py). */
    uniformPThreshold: Double = 0.999,
    /** DUPLICATES alert threshold as fraction of rows (reference: messages.py:309). */
    duplicatesFraction: Double = 0.01,
    /** Number of duplicate rows listed (reference: config_default.yaml:152-153). */
    duplicatesHead: Int = 10,
    /** Rows in the head sample (reference: model/sample.py:52-71). */
    sampleHead: Int = 10,
    /** Persist the input before multi-pass profiling
      * (reference: config_default.yaml:96 `spark.persist`). */
    persist: Boolean = true,
    /** Pearson + nullity correlations (reference: config_default.yaml:70-92). */
    computeCorrelations: Boolean = true,
    /** Spearman correlations. Default FALSE for parity with the
      * reference's spark path (config_default.yaml:70-92 enables only
      * pearson) — and because MLlib's spearman costs ~8 distributed
      * sorts; measured 59s of a 101s profile at sf0.1. */
    computeSpearman: Boolean = false,
    /** Spearman plan selector: when the TOTAL distinct-value count across
      * the numeric columns (known exactly from the value-counts pass) is
      * at or below this, the tie-averaged rank tables are small enough to
      * BROADCAST — per-column map-side hash joins replace the melted
      * rank join + row-id pivot (two shuffles of rows x columns cells).
      * Above it (e.g. billions of distinct keys at 100 TB) the shuffle
      * plan runs unchanged. 2M entries ~ tens of MB broadcast. */
    spearmanBroadcastMaxDistinct: Long = 2000000L,
    /** Cramer's V for categorical pairs (reference: correlations.py:219-413). */
    computeCramers: Boolean = true,
    /** Kendall tau-b for numeric pairs (off by default like the reference,
      * config_default.yaml:79-82; pair counting runs on a hash-sample). */
    computeKendall: Boolean = false,
    /** Rows kept (hash-sample percent) for Kendall's O(n^2) pair space. */
    kendallSamplePct: Int = 1,
    /** Absolute row cap on the Kendall sample — a percent alone leaves
      * the pair join quadratic in table size (1% of 10^9 rows is 5*10^13
      * pairs); min(pct, cap) hard-bounds it, and s.e. ~ 1/sqrt(n) makes
      * >10^4 rows statistically pointless anyway. */
    kendallSampleCap: Int = 10000,
    /** Route the correlation matrix's Kendall through the EXACT
      * distributed O(n log n) grid kernel
      * ([[graft.ops.Kendall.tauBExactDistributed]], the q261 path)
      * instead of the capped sample — the same exact-vs-sketch split
      * the profiler already offers for distinct counts and quantiles.
      * Full-table answer, cost = a few linear passes + a bounded
      * per-bucket merge per pair; the capped sample (s.e. ~ 1/sqrt(n))
      * stays the default. */
    kendallExact: Boolean = false,
    /** phi-k for categorical pairs (off by default like the reference,
      * config_default.yaml:84-87). */
    computePhik: Boolean = false,
    /** Concurrent Spark jobs the profiler overlaps on its client-side
      * pool (reference `pool_size`, config_default.yaml:20 — its 0
      * means "CPU count"; we fix a bound so a wide post-B wave of small
      * jobs doesn't thrash the scheduler). */
    poolSize: Int = 8,
    /** Max distinct values for a column to enter Cramer's V
      * (reference: config_default.yaml:110). */
    maxCramersCardinality: Int = 100,
    /** Character-frequency / unicode analysis (reference: summary_helpers.py:331-435). */
    computeCharStats: Boolean = true,
    /** Exact fixed-width histograms (two-pass). */
    computeHistograms: Boolean = true,
    /** Median absolute deviation (second pass; reference: summary_algorithms.py:584-591). */
    computeMad: Boolean = true,
    /** Duplicate-row detection (reference: dataframe_wrappers.py:515-550). */
    computeDuplicates: Boolean = true
)

object ProfileConfig {
  val default: ProfileConfig = ProfileConfig()

  /** Analogue of the reference's `config_minimal.yaml` big-data escape hatch:
    * correlations, char stats, histograms, MAD and duplicates off; sketches on. */
  val minimal: ProfileConfig = ProfileConfig(
    exactDistinct = false,
    exactQuantiles = false,
    computeCorrelations = false,
    computeSpearman = false,
    computeCramers = false,
    computeCharStats = false,
    computeHistograms = false,
    computeMad = false,
    computeDuplicates = false
  )
}
