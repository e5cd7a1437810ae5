package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (100 TB): every op here is a constant number of shuffles
  * over keys that distribute uniformly (hashes / shingles), no driver
  * materialization. The pairwise verifiers only ever run on LSH-bucketed
  * candidates, never on the full cross product.
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `keepBy` per duplicate
    * group. One shuffle on the dedup key (hash partitioning). */
  def exactDedup(df: DataFrame, keyCols: Seq[String], keepBy: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(keepBy))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Normalized text key for exact near-exact dedup: lowercase, collapse
    * whitespace. */
  def normalizedText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** CCNet-style line-level boilerplate removal (Wenzek et al.,
    * arXiv:1911.00359 §4.1; also the Gopher/RefinedWeb "repeated lines
    * across documents" filter): drop every line that occurs in at least
    * `minDocs` DISTINCT documents corpus-wide (navigation chrome, cookie
    * banners, boilerplate headers), then reassemble each document from
    * its surviving lines in original order.
    *
    * Output: one row per input document —
    * `(idCol, cleaned, n_lines, n_kept, n_removed)` — documents whose
    * every line was boilerplate survive with `cleaned = ""`.
    *
    * Scale design (100 TB): three shuffles, all on uniformly-distributed
    * keys — (1) the distinct (doc, line) projection and (2) the
    * document-frequency count both hash-partition by line; Catalyst
    * plans map-side partial aggregation for both, so only one
    * (line, partial count) row per partition-local distinct line reaches
    * the wire. (3) The reassembly groups by document id with a
    * per-document `collect_list` bounded by document size. The frequent
    * set joins back as a shuffle join on the SAME line key (no driver
    * materialization — the boilerplate set can be arbitrarily large). */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    // limit -1: keep trailing empty lines so n_lines matches the text
    // (Spark's 2-arg split drops them; DuckDB/python splitters do not).
    val lines = df
      .select(col(idCol).as("__id"),
        posexplode(split(coalesce(col(textCol), lit("")), sep, -1))
          .as(Seq("__pos", "__line")))
    val frequent = lines.select("__id", "__line").distinct()
      .groupBy("__line").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocs)
      .select("__line")
    val kept = lines.join(frequent, Seq("__line"), "left_anti")
      .groupBy("__id")
      .agg(
        array_join(
          transform(
            sort_array(collect_list(struct(col("__pos").as("p"),
              col("__line").as("l")))),
            x => x.getField("l")),
          sep).as("cleaned"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("__id"),
        size(split(coalesce(col(textCol), lit("")), sep, -1)).cast("long")
          .as("n_lines"))
      .join(kept, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Distinct character k-shingles per document: (id, shingle) rows.
    * Documents shorter than k yield no rows. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.where(length(col(textCol)) >= k)
      .select(col(idCol).as("id"),
        explode(array_distinct(shingles(col(textCol), k))).as("g"))

  /** Distinct word n-gram shingles per document (space-joined lowercase
    * word windows). Far more discriminative than char shingles on
    * natural/templated text — the shingle unit of the Gopher/RefinedWeb
    * style dedup pipelines — which keeps every shingle's document
    * frequency (and so any shingle-join's fanout) low. The gram array
    * comes from the codegen'd [[graft.functions.WordNgramsExpr]] (one
    * static call per row) rather than an interpreted higher-order
    * chain; documents with fewer than n words yield no rows. */
  def wordShingleTable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.WordNgramsExpr
        .ngrams(col(textCol), n, distinct = true)).as("g"))

  /** Session-scoped cache of checkpointed word-shingle tables: the
    * q22/q23/q24 family derives its shingle state ONCE per (input, n)
    * instead of once per query — the "materialize the shingle table once
    * per corpus snapshot" pattern of production dedup pipelines. Keyed by
    * session identity + the analyzed plan's semantic hash; bounded LRU(4)
    * so an evicted entry's checkpoint RDD is reclaimed by the
    * ContextCleaner once unreferenced. Opt-in via
    * [[wordShingleTableCached]] (NOT default: a cached checkpoint would
    * not see files that change under the same path mid-session). */
  private val shingleCache =
    new SessionCache[(Int, Int, String, String, Int), DataFrame](4)

  /** Drop every memoized shingle AND derived-pairs table. Bench/test
    * hook: a min-of-two benchmark must clear this between passes, or the
    * second pass times a pure cache hit and the reported min never
    * includes the shingle/verify build that a cold run pays. Kept for
    * targeted test use; Bench now clears the whole registry via
    * [[SessionCache.clearAll]]. */
  def clearShingleCache(): Unit = {
    shingleCache.clear()
    pairsCache.clear()
  }

  /** Session-scoped cache of checkpointed VERIFIED-PAIR tables derived
    * from a shingle table. The exact-Jaccard family (q22-style pairs →
    * clusters → canonical selection) and the MinHash-LSH family
    * (pairs → labelAll → keep-longest) each consume the SAME pair list
    * in several downstream queries; candidate generation + exact verify
    * is the expensive half of the pipeline, so memoize it per
    * (session, shingle-table semantic hash, parameters) exactly like
    * [[shingleCache]] — bounded LRU(4), cleared together with it. */
  private val pairsCache = new SessionCache[(Int, Int, String), DataFrame](4)

  private def cachedPairs(sh: DataFrame, tag: String)(
      build: => DataFrame): DataFrame =
    pairsCache.getOrElseUpdate((System.identityHashCode(sh.sparkSession),
      sh.queryExecution.analyzed.semanticHash(), tag))(
      build.localCheckpoint(false))

  /** [[jaccardPairs]], memoized+checkpointed per (shingle table,
    * threshold) — share one prefix-filter join + verify across the
    * pairs/clusters/canonical query family. */
  def jaccardPairsCached(sh: DataFrame, threshold: Double): DataFrame =
    cachedPairs(sh, s"jacc:$threshold")(jaccardPairs(sh, threshold))

  /** [[minhashNearDupPairsFromShingles]], memoized+checkpointed per
    * (shingle table, numHashes, bands, threshold) — share one
    * sign→band→bucket→verify build across the LSH query family. */
  def minhashNearDupPairsFromShinglesCached(
      sh: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame =
    cachedPairs(sh, s"mh:$numHashes:$bands:$threshold")(
      minhashNearDupPairsFromShingles(sh, numHashes, bands, threshold))

  /** [[wordShingleTable]], lazily checkpointed and memoized: repeated
    * calls on a semantically-equal source in one session return the SAME
    * materialized table, so downstream ops (signatures, LSH, verify)
    * share one shingle build. */
  def wordShingleTableCached(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleCache.getOrElseUpdate((System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(), idCol, textCol, n))(
      wordShingleTable(df, idCol, textCol, n).localCheckpoint(false))

  /** Checkpoint once, idempotently: a table that is already a
    * checkpoint/RDD scan (e.g. from [[wordShingleTableCached]]) passes
    * through instead of being re-materialized. */
  private def ensureCheckpointed(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => df.localCheckpoint(false)
    }

  /** Exact n-gram Jaccard similarity join with PREFIX FILTERING
    * (ppjoin-style; Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08 — public algorithm).
    *
    * A naive self-join on shingles blows up quadratically on frequent
    * shingles (a trigram occurring in every document joins |D|^2 rows).
    * Prefix filter: under any global shingle order, two sets with
    * Jaccard >= t MUST share an element within each side's first
    * floor((1-t)|S|)+1 shingles. Ordering shingles rarest-first makes
    * those prefix keys precisely the low-fanout ones, so the candidate
    * join touches only rare shingles; the exact Jaccard verifier then
    * runs on candidates only. Same output as the naive join, scalable
    * plan. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double): DataFrame =
    jaccardPairs(shingleTable(df, idCol, textCol, k), threshold)

  /** Word-n-gram variant — the right shingle unit for natural text (char
    * shingles are all high-frequency there, which starves the prefix
    * filter). */
  def wordNgramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame =
    jaccardPairs(wordShingleTable(df, idCol, textCol, n), threshold)

  /** Exact Jaccard similarity join over any (id, g) shingle table:
    * prefix-filtered candidates + length-ratio filter, then exact
    * verification. */
  def jaccardPairs(shRaw: DataFrame, threshold: Double): DataFrame = {
    // the shingle table feeds candidate generation AND verification (5
    // scans in the naive plan, Spark reuses no exchanges across them) —
    // checkpoint it once; RDD-backed, so the ContextCleaner reclaims it
    val sh = ensureCheckpointed(shRaw)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // global order: document frequency asc, shingle asc
    val docFreq = sh.groupBy("g").agg(count(lit(1)).as("df"))
    val ordered = sh.join(docFreq, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("g"))))
      .join(sizes, "id")
      .where(col("rn") <=
        floor((lit(1.0) - threshold) * col("sz")).cast("int") + 1)
      .select(col("id"), col("g"), col("sz"))
    val a = ordered.as("a"); val b = ordered.as("b")
    // length-ratio filter: J(A,B) >= t forces t*|B| <= |A| <= |B|/t
    val candidates = a
      .join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
        col("a.sz") >= col("b.sz") * threshold &&
        col("b.sz") >= col("a.sz") * threshold)
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    verifyJaccard(candidates, sh, threshold)
  }

  /** Edit-distance similarity self-join: all pairs whose strings are
    * within `maxDist` Levenshtein edits — entity resolution over names
    * / keys / titles (Gravano et al., "Approximate String Joins in a
    * Database (Almost) for Free", VLDB'01 — the q-gram filter family).
    *
    * Candidates come from a distinct char-q-gram equi-join with a
    * count lower bound: one edit rewrites at most q gram TYPES, so a
    * true match shares at least max(ni, nj) − q·maxDist distinct grams;
    * plus the length filter |len_i − len_j| ≤ maxDist. The exact
    * `levenshtein` runs on candidates only, never the cross product.
    * The gram join is complete only for strings of length ≥ q·(maxDist
    * + 1) (shorter pairs can be within maxDist yet share no gram), so
    * the SHORT pool — bounded-length strings, assumed a small fraction
    * of any real corpus — is verified by a direct self-join instead.
    *
    * `blockCols`: optional ER blocking — only pairs agreeing on every
    * blocking column are candidates, enforced IN the gram join key
    * (and the short-pool join), so candidates shrink by the block
    * fanout before any pair materializes. On template-heavy corpora
    * (near-identical strings everywhere) blocking is what keeps the
    * candidate set from going quadratic. Returns `(i, j, dist)` with
    * i < j. */
  def editDistancePairs(
      df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 3,
      blockCols: Seq[String] = Nil): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(q >= 1, "q must be >= 1")
    val reserved = Set("id", "s", "len", "g", "i", "j", "ng", "ni",
      "nj", "li", "lj", "shared", "dist")
    require(blockCols.forall(c => !reserved.contains(c)),
      s"blocking columns may not use the reserved names $reserved")
    val bcols = blockCols.map(col)
    val t = ensureCheckpointed(df
      .select(col(idCol).as("id") +: col(strCol).as("s") +: bcols: _*)
      .where(col("s").isNotNull &&
        blockCols.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
      .withColumn("len", length(col("s"))))
    val shortLen = q * (maxDist + 1)
    // the blocking key rides in the join key itself: grams join on
    // (g, blocks), shorts equi-join on (blocks)
    val grams = t.where(col("len") >= q)
      .select(col("id") +: explode(array_distinct(
        shingles(col("s"), q))).as("g") +: bcols: _*)
    val sz = grams.groupBy("id").agg(count(lit(1)).as("ng"))
    val candLong = bucketPairs(grams, "g" +: blockCols, Int.MaxValue)
      .groupBy("i", "j").agg(count(lit(1)).as("shared"))
      .join(sz.select(col("id").as("i"), col("ng").as("ni")), "i")
      .join(sz.select(col("id").as("j"), col("ng").as("nj")), "j")
      .where(col("shared") >=
        greatest(col("ni"), col("nj")) - lit(q * maxDist))
      .select("i", "j")
    val short = t.where(col("len") < shortLen)
      .select(col("id") +: col("len") +: bcols: _*)
    val shortI = short.select(col("id").as("i") +: col("len").as("li")
      +: bcols: _*)
    val shortJ = short.select(col("id").as("j") +: col("len").as("lj")
      +: bcols: _*)
    val candShort = (if (blockCols.isEmpty) shortI.crossJoin(shortJ)
      else shortI.join(shortJ, blockCols.toSeq))
      .where(col("i") < col("j") &&
        abs(col("li") - col("lj")) <= maxDist)
      .select("i", "j")
    val strs = t.select(col("id"), col("s"), col("len"))
    candLong.union(candShort).distinct()
      .join(strs.select(col("id").as("i"), col("s").as("si"),
        col("len").as("li")), "i")
      .join(strs.select(col("id").as("j"), col("s").as("sj"),
        col("len").as("lj")), "j")
      .where(abs(col("li") - col("lj")) <= maxDist)
      .withColumn("dist", levenshtein(col("si"), col("sj")))
      .where(col("dist") <= maxDist)
      .select("i", "j", "dist")
  }

  /** MinHash signatures over any (id, g) shingle table. One shuffle
    * regardless of width, and ONE md5 per shingle regardless of width:
    * the hash family is [[minhashX]] + [[minhashHash]]. */
  def minhashSignaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val withX = sh.select(col("id"), minhashX(col("g")).as("x"))
    val aggs = (0 until numHashes).map(i =>
      min(minhashHash(col("x"), i)).as(s"s$i"))
    withX.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** The prime modulus p = 2^31 − 1 of the MinHash family. */
  private[graft] val MinhashPrime: Long = 2147483647L

  /** The coefficients (a_i, b_i) of MinHash hash i, 1 <= a_i < p and
    * 0 <= b_i < p: a fixed-seed splitmix64 stream, so Spark, the
    * streaming twin and the DuckDB oracle all read the same constants. */
  private[graft] def minhashCoefficients(i: Int): (Long, Long) = {
    def mix(k: Long): Long = {
      var z = 0x6d696e68617368L + k * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (1L + java.lang.Math.floorMod(mix(2L * i), MinhashPrime - 1),
      java.lang.Math.floorMod(mix(2L * i + 1), MinhashPrime))
  }

  /** The MinHash family's input, shared by the batch signatures and
    * [[graft.streaming.StreamingNearDup]]: x = the low 31 bits of the
    * first 32 bits of the shingle's md5 — one md5 per shingle,
    * whatever the signature width. */
  private[graft] def minhashX(g: Column): Column =
    conv(substring(md5(g), 1, 8), 16, 10).cast("long").bitwiseAND(MinhashPrime)

  /** Hash `i` of the MinHash family: the universal hash
    * h_i(x) = (a_i·x + b_i) mod p. Independent across i, unlike a
    * double-hashing family h1 + i·h2 whose minimum drifts to the
    * smallest h2 as i grows; every intermediate is below 2^63, so a
    * Spark `long` and a DuckDB `BIGINT` agree bit for bit. */
  private[graft] def minhashHash(x: Column, i: Int): Column = {
    val (a, b) = minhashCoefficients(i)
    (x * lit(a) + lit(b)) % lit(MinhashPrime)
  }

  /** The LSH band keys over signature columns `s0..s{bands*r-1}`: an
    * array of one (band, key) struct per band, key = md5 of the band's
    * comma-joined signature slice. Shared by the batch bucket table
    * and the streaming twin, so both band identically. */
  private[graft] def lshBandKeys(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", slice: _*)).as("key"))
    }: _*)

  /** MinHash signatures over char k-shingles. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame =
    minhashSignaturesFromShingles(shingleTable(df, idCol, textCol, k), numHashes)

  /** MinHash-LSH candidate pairs: band the signature (bands x rowsPerBand
    * = numHashes), bucket-join on (band, md5 of band slice), emit each
    * candidate pair once. Collision probability follows the standard
    * (1-(1-s^r)^b) S-curve.
    *
    * `maxBucket` is the degenerate-bucket guard of [[bucketPairs]]
    * (measured: a 4 860-doc bucket alone is 11.8 M pairs, and a 10×
    * synthetic corpus put 51.9 M of its 52.5 M candidates in buckets >
    * 100). Buckets above the cap are SKIPPED: at that size they are
    * either giant exact-dup families (an exact pass collapses those
    * first and cheaper) or degenerate signatures that verify would
    * reject anyway. The drop is silent in this method's OUTPUT by
    * design (a pair stream stays a pair stream); callers that need to
    * see the recall loss read the skipped-bucket ledger from
    * [[minhashLshSkippedBuckets]]. */
  def minhashLshPairs(
      signatures: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = 4096): DataFrame = {
    val buckets = lshBandBuckets(signatures, bands, rowsPerBand)
      .localCheckpoint(false)
    bucketPairs(buckets, Seq("band", "key"), maxBucket)
      .select("i", "j").distinct()
  }

  /** The exploded (id, band, key) LSH bucket table [[minhashLshPairs]]
    * self-joins — factored out so the pairs path and the skipped-bucket
    * ledger below band identically. */
  private def lshBandBuckets(
      signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    signatures
      .select(col("id"), explode(lshBandKeys(bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** The recall-loss ledger for [[minhashLshPairs]]' degenerate-bucket
    * guard ([[skippedBuckets]] over the same banding): returns (band,
    * key, bucket_size) with bucket_size > maxBucket, empty when the
    * guard dropped nothing. */
  def minhashLshSkippedBuckets(
      signatures: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = 4096): DataFrame =
    skippedBuckets(lshBandBuckets(signatures, bands, rowsPerBand),
      Seq("band", "key"), maxBucket)

  /** The candidate step every bucketed near-dup operator shares
    * (MinHash and SRP LSH, SimHash, dHash, winnowing): one row per
    * (shared bucket, i < j pair) of `keyed`, a table with an `id`
    * column and the bucket columns `keys`. Each side's other columns
    * ride along as `<c>_i` / `<c>_j`, so a caller verifies on the
    * joined row without joining back. Callers add their own final step
    * (distinct, a verify, a shared-bucket count) and their own
    * checkpoint of `keyed`.
    *
    * `maxBucket` is the DEGENERATE-BUCKET guard every production LSH
    * pipeline carries: a bucket of B colliding docs contributes
    * B·(B−1)/2 candidate pairs, so one pathological key turns the
    * self-join quadratic. Buckets above the cap are skipped BEFORE the
    * pair explosion by one map-side-combined (keys) aggregate + semi
    * join — the guard costs one small shuffle, not a scan of the
    * would-be pairs; [[skippedBuckets]] is its ledger. `Int.MaxValue`
    * plans no guard aggregate at all (an uncapped path pays nothing
    * for the knob it does not use). A bucket's size is its row count
    * in `sizedOn`, `keyed` itself by default; a keyed table with
    * several rows per (id, bucket) passes its distinct (id, keys)
    * projection so the cap counts documents. */
  private[graft] def bucketPairs(keyed: DataFrame, keys: Seq[String],
      maxBucket: Int, sizedOn: Option[DataFrame] = None): DataFrame = {
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val bounded = capBuckets(keyed, keys, maxBucket, sizedOn.getOrElse(keyed))
    val carried = keyed.columns.filterNot(c => c == "id" || keys.contains(c))
    def side(tag: String) = bounded.select(keys.map(col) ++
      (col("id").as(tag) +: carried.map(c => col(c).as(s"${c}_$tag"))): _*)
    side("i").join(side("j"), keys).where(col("i") < col("j"))
  }

  /** `keyed` without the rows of buckets holding more than `maxBucket`
    * rows of `sizedOn`: the guard of [[bucketPairs]], also applied on
    * its own by the cross-side winnowing join. */
  private def capBuckets(keyed: DataFrame, keys: Seq[String],
      maxBucket: Int, sizedOn: DataFrame): DataFrame =
    if (maxBucket == Int.MaxValue) keyed
    else keyed.join(bucketSizes(sizedOn, keys)
      .where(col("bucket_size") <= maxBucket).select(keys.map(col): _*),
      keys, "left_semi")

  private def bucketSizes(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_size"))

  /** The recall-loss ledger of [[bucketPairs]]' cap over the same keyed
    * table: (keys..., bucket_size) for every bucket the cap SKIPS, so
    * the drop is observable (one giant exact-dup family, or many
    * degenerate keys?) instead of invisible. One map-side-combined
    * aggregate, no pair explosion; empty when nothing was skipped. */
  private[graft] def skippedBuckets(keyed: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, "maxBucket must be >= 2")
    bucketSizes(keyed, keys).where(col("bucket_size") > maxBucket)
  }

  /** End-to-end MinHash near-dup detection over any shingle table: LSH
    * candidates verified with exact shingle Jaccard. Shingle choice
    * drives selectivity — use [[wordShingleTable]] for natural text
    * (char shingles make unrelated documents ~60% similar on a shared
    * vocabulary, which floods the bands with false candidates). */
  def minhashNearDupPairsFromShingles(
      shRaw: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = ensureCheckpointed(shRaw)
    val sigs = minhashSignaturesFromShingles(sh, numHashes)
    val candidates = minhashLshPairs(sigs, bands, numHashes / bands)
    verifyJaccard(candidates, sh, threshold)
  }

  /** Char-shingle convenience wrapper. */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    minhashNearDupPairsFromShingles(
      shingleTable(df, idCol, textCol, k), numHashes, bands, threshold)

  private def verifyJaccard(
      candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val shi = sh.select(col("id").as("i"), col("g"))
    val shj = sh.select(col("id").as("j"), col("g"))
    val common = candidates.join(shi, "i").join(shj, Seq("j", "g"))
      .groupBy("i", "j").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("i"), col("sz").as("szi")), "i")
      .join(sizes.select(col("id").as("j"), col("sz").as("szj")), "j")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("szi") + col("szj") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Directed containment join over any (id, g) shingle table:
    * pairs (i, j) with C(i→j) = |Sᵢ∩Sⱼ|/|Sᵢ| ≥ t — the asymmetric
    * near-dup relation Jaccard misses: a paragraph quoted inside a
    * larger document, boilerplate wrapped around copied content,
    * subset/extension pairs. The partial-copy detector a curation
    * pipeline runs NEXT TO q22's symmetric join.
    *
    * Prefix filter, containment form: if |Sᵢ∩Sⱼ| ≥ t|Sᵢ|, then Sᵢ's
    * first ⌊(1−t)|Sᵢ|⌋+1 shingles under any global order must hit Sⱼ
    * (missing all of them leaves < t|Sᵢ| shared) — so candidates come
    * from joining the PROBE side's rarest-first prefix against the
    * candidate side's FULL table; no length-ratio filter applies (j
    * may be arbitrarily larger). Exact verification on candidates
    * only, with the threshold compared in division form — the same
    * IEEE expression the oracle uses, so the boundary decision
    * (inter/szi vs t) is bit-identical across engines. Returns
    * directed (i, j, containment 6dp). */
  def containmentPairs(shRaw: DataFrame, threshold: Double): DataFrame = {
    val sh = ensureCheckpointed(shRaw)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val docFreq = sh.groupBy("g").agg(count(lit(1)).as("df"))
    val prefix = sh.join(docFreq, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("g"))))
      .join(sizes, "id")
      .where(col("rn") <=
        floor((lit(1.0) - threshold) * col("sz")).cast("int") + 1)
      .select(col("id").as("i"), col("g"))
    val candidates = prefix
      .join(sh.select(col("id").as("j"), col("g")), "g")
      .where(col("i") =!= col("j"))
      .select("i", "j").distinct()
    val shi = sh.select(col("id").as("i"), col("g"))
    val shj = sh.select(col("id").as("j"), col("g"))
    val common = candidates.join(shi, "i").join(shj, Seq("j", "g"))
      .groupBy("i", "j").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("i"), col("sz").as("szi")), "i")
      .withColumn("containment",
        col("common").cast("double") / col("szi"))
      .where(col("containment") >= threshold)
      .select(col("i"), col("j"),
        round(col("containment"), 6).as("containment"))
  }

  /** SimHash (Charikar) over the distinct-word set with 60-bit word
    * hashes folded to `bits` sign-sums. Near-dups then reduce to Hamming
    * distance on the signature — O(n) bucketing instead of O(n^2). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(graft.functions.WordNgramsExpr
        .ngrams(col(textCol), 1, distinct = true)).as("w"))
      .withColumn("h", hash64(col("w"), 0))
    val bitSums = (0 until bits).map(b =>
      sum(when((shiftright(col("h"), b).bitwiseAND(1)) === 1, 1L)
        .otherwise(-1L)).as(s"b$b"))
    val sums = words.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce((a, b) => a + b)
    sums.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs via BLOCK bucketing — the pigeonhole
    * scheme Manku/Jain/Sarma's web-dedup paper (WWW'07) made standard:
    * split the `bits`-wide signature into `blocks` equal slices; any
    * pair within Hamming distance < `blocks` must agree EXACTLY on at
    * least one slice (d differing bits can dirty at most d blocks), so
    * bucketing each slice and self-joining buckets finds every such
    * pair without an all-pairs scan. Candidates verify with
    * bit_count(xor) <= maxHamming. Same degenerate-bucket guard as
    * [[minhashLshPairs]]. Requires maxHamming < blocks (the pigeonhole
    * guarantee — a larger radius needs more blocks or multi-block
    * probing). Returns (i, j, hamming), i < j. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, blocks: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 4096): DataFrame = {
    require(bits % blocks == 0, "blocks must divide bits")
    require(maxHamming < blocks,
      s"pigeonhole needs maxHamming < blocks, got $maxHamming/$blocks")
    val w = bits / blocks
    val mask = (1L << w) - 1L
    val sigs = simhash(df, idCol, textCol, bits).localCheckpoint(false)
    val keyed = sigs.select(col("id"), col("simhash"),
        explode(array((0 until blocks).map(b =>
          struct(lit(b).as("blk"),
            shiftright(col("simhash"), b * w).bitwiseAND(lit(mask))
              .as("key"))): _*)).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.blk").as("blk"), col("bk.key").as("key"))
      .localCheckpoint(false)
    bucketPairs(keyed, Seq("blk", "key"), maxBucket)
      .select(col("i"), col("j"),
        expr("bit_count(simhash_i ^ simhash_j)").cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs via MULTI-BLOCK combination keys — the
    * table-combination generalization from the same Manku WWW'07
    * construction [[simhashNearDupPairs]] uses: split the signature
    * into `blocks` slices and bucket on every COMBINATION of
    * m = blocks − maxHamming slices. A pair within Hamming distance
    * maxHamming dirties at most maxHamming blocks, leaving ≥ m clean
    * ones, so it shares at least one m-combination key — exact recall,
    * like the one-block scheme (which is the m = 1 special case at
    * blocks = maxHamming + 1). What m > 1 buys is PRECISION: keys are
    * m·w bits wide instead of w, so random bucket collisions (false
    * candidates) drop geometrically — the knob that keeps candidate
    * volume flat as corpora grow — at the cost of C(blocks, m) bucket
    * tables instead of `blocks` (e.g. 56 at blocks=8, radius 3). Same
    * degenerate-bucket cap, same bit_count(xor) verify.
    *
    * OPERATING CONTRACT — run AFTER exact dedup: SimHash is a
    * word-SET signature, so exact and word-permuted duplicates carry
    * IDENTICAL signatures and collide in ALL C(blocks, m) tables — a
    * family of r copies emits C(r,2)·C(blocks,m) candidate rows here
    * vs C(r,2)·blocks in the one-block scheme (measured: the 10×
    * stress corpus, whose replicas are word-shuffles, drove this
    * operator to heap exhaustion while q248's 4-table scheme ran at
    * 2.9×). The precision win applies to near-dups and random
    * collisions; collapse exact families first (q21/q31's pass — the
    * ordering the maxBucket guard's rationale already assumes).
    *
    * Returns (i, j, hamming), i < j — the same answer set as
    * [[simhashNearDupPairs]] at equal (bits, maxHamming) whenever no
    * bucket overflows the cap in either scheme. */
  def simhashNearDupPairsCombos(df: DataFrame, idCol: String,
      textCol: String, bits: Int = 64, blocks: Int = 8,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    require(bits % blocks == 0, "blocks must divide bits")
    require(maxHamming >= 1 && maxHamming < blocks,
      s"pigeonhole needs 1 <= maxHamming < blocks, got $maxHamming/$blocks")
    val m = blocks - maxHamming
    val combos = simhashCombos(blocks, m)
    val w = bits / blocks
    val mask = (1L << w) - 1L
    val sigs = simhash(df, idCol, textCol, bits).localCheckpoint(false)
    // LONG bucket keys (top 60 md5 bits) and no signature carried
    // through the C(b,m)-wide exploded table — the verify joins the
    // signatures back per DISTINCT candidate pair instead, so the big
    // intermediate holds (id, blk, key-long) only
    val comboCols = combos.zipWithIndex.map { case (c, ci) =>
      struct(lit(ci).as("blk"),
        conv(substring(md5(concat_ws(",", c.map(b =>
          shiftright(col("simhash"), b * w).bitwiseAND(lit(mask))
            .cast("string")): _*)), 1, 15), 16, 10).cast("long").as("key"))
    }
    val keyed = sigs.select(col("id"),
        explode(array(comboCols: _*)).as("bk"))
      .select(col("id"), col("bk.blk").as("blk"), col("bk.key").as("key"))
      .localCheckpoint(false)
    bucketPairs(keyed, Seq("blk", "key"), maxBucket)
      .select("i", "j").distinct()
      .join(sigs.select(col("id").as("i"), col("simhash").as("sig_i")), "i")
      .join(sigs.select(col("id").as("j"), col("simhash").as("sig_j")), "j")
      .select(col("i"), col("j"),
        expr("bit_count(sig_i ^ sig_j)").cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** The deterministic m-of-blocks combination list both the operator
    * and its oracle SQL must share (lexicographic, like
    * `Seq.combinations`). */
  def simhashCombos(blocks: Int, m: Int): Seq[Seq[Int]] =
    (0 until blocks).combinations(m).map(_.toSeq).toSeq

  /** SRP-LSH candidate pairs for [[lshNearDupPairs]]: a hash-partitioned
    * self-join on (band, bucket). Exposed separately so selectivity —
    * candidate count as a fraction of n(n-1)/2 — is directly measurable
    * (DedupSpec asserts < 5% on random vectors; recall alone says
    * nothing about whether the join degenerated to all pairs). The
    * bucket table feeds both sides of the self-join, so it is built
    * once (eager localCheckpoint; RDD-backed, ContextCleaner-reclaimed)
    * instead of rebuilding the sign-matrix scan per side. */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, vecCol: String,
      planesPerBand: Int, bands: Int): DataFrame = {
    val bk = Similarity
      .srpBandBuckets(df, idCol, vecCol, planesPerBand, bands)
      .localCheckpoint(true)
    bucketPairs(bk, Seq("band", "bucket"), Int.MaxValue)
      .select("i", "j").distinct()
  }

  /** Embedding near-duplicates via banded SRP-LSH: candidates from a
    * hash-partitioned self-join on (band, bucket), then EXACT cosine
    * verification on candidates only — the q24 minhash shape applied to
    * embeddings. No cross join anywhere: the only joins are equi-joins
    * on (band, bucket) and on id.
    *
    * OPERATING RANGE — this is a NEAR-DUP operator (threshold >= ~0.8),
    * not a general threshold-join. SRP-LSH separates signal from noise
    * only when the threshold's collision probability p = 1-acos(t)/pi
    * stands clear of the random-pair baseline p = 0.5. Measured on the
    * driver's embeddings testdata (isotropic 64-dim vectors, where the
    * pairwise-cosine null sd is 1/sqrt(64) = 0.125):
    *   - t = 0.4 is BELOW the noise floor: with n = 2000 (sf0.1) the
    *     null model puts hundreds of random pairs above 0.4 (observed
    *     920, max cosine 0.62 ~ sd*sqrt(2 ln n^2) — the top tail of
    *     noise, not planted structure). No (r, b) separates p = 0.631
    *     from p = 0.5, and metric blocking fails too: k-means IVF cells
    *     (k = 16/32/64) need 50-95% of all pairs as candidates for 100%
    *     recall at t = 0.4. Any exact sub-quadratic plan is impossible
    *     at such a threshold; use [[embeddingNearDupPairs]] there.
    *   - t >= 0.8: the default r=14 planes x 192 bands gives, on the
    *     same data, E[candidate fraction] = 2.0% of all pairs with
    *     recall 99.96% at cosine exactly 0.80, ~100% at >= 0.85
    *     (1-(1-p^14)^192; DedupSpec asserts both selectivity and
    *     planted-pair recall).
    * Verified cosines are the same doubles as the all-pairs form, so
    * outputs are bit-identical when recall is 100%. */
  def lshNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planesPerBand: Int = 14, bands: Int = 192): DataFrame = {
    val cand = lshCandidatePairs(df, idCol, vecCol, planesPerBand, bands)
    val a = df.select(col(idCol).as("i"), col(vecCol).as("va"),
      l2Norm(col(vecCol)).as("na"))
    val b = df.select(col(idCol).as("j"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"))
    cand.join(a, "i").join(b, "j")
      .withColumn("cos",
        dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
  }

  /** Embedding near-duplicates: all pairs with cosine >= threshold.
    * Quadratic exact verifier — a small-N helper and the recall oracle
    * for [[lshNearDupPairs]], which is the scale path (and the declared
    * q27 plan). */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // Precompute each vector's norm ONCE (vs per pair in the cross join):
    // same doubles, identical product, ~2/3 less arithmetic per pair.
    val a = df.select(col(idCol).as("i"), col(vecCol).as("va"),
      l2Norm(col(vecCol)).as("na"))
    val b = df.select(col(idCol).as("j"), col(vecCol).as("vb"),
      l2Norm(col(vecCol)).as("nb"))
    a.crossJoin(b).where(col("i") < col("j"))
      .withColumn("cos",
        dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup-style clustered embedding near-dup (Abbas et al.,
    * arXiv:2303.09540): assign every vector to its nearest centroid
    * (broadcast centroid table, argmax cosine, rounded-6dp with
    * smaller-list-id tie-break so the assignment is reproducible across
    * engines), then verify pairs ONLY within a cluster. Replaces the
    * SRP-LSH candidate generator of [[lshNearDupPairs]] with semantic
    * bucketing — the shape that also yields the per-cluster curation
    * stats (cluster sizes, densities) mixing pipelines want anyway.
    *
    * Scale design (100 TB): centroids are nlist-bounded (broadcast);
    * assignment is one map-only scan; the within-cluster self-join
    * shuffles by list_id once — quadratic only inside each cluster,
    * which nlist is chosen to bound (SemDeDup runs ~100k clusters at
    * web scale). Misses only pairs whose members split across clusters
    * (the paper's accepted trade-off; crank nprobe-style multi-assign
    * if that matters).
    *
    * `centroids`: (list_id, centroid array) — from [[IvfIndex.build]]'s
    * k-means, or any deterministic seed set when reproducibility across
    * engines is required. */
  def semDedupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("n"))
    val assigned = v.crossJoin(broadcast(
        centroids.select(col("list_id"),
          col("centroid").as("cv"), l2Norm(col("centroid")).as("cn"))))
      .withColumn("ccos",
        round(dotProduct(col("v"), col("cv")) / (col("n") * col("cn")), 6))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("ccos").desc, col("list_id"))))
      .where(col("__rn") === 1)
      .select(col("id"), col("list_id"), col("v"), col("n"))
    bucketPairs(assigned, Seq("list_id"), Int.MaxValue)
      .withColumn("cos",
        dotProduct(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")))
      .where(col("cos") >= threshold)
      .select(col("i"), col("j"), col("list_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Connected components over an undirected near-dup pair list — the
    * clustering step BETWEEN "pairs found" and "keep one canonical doc
    * per group": near-dup relations are not transitive, so A~B and B~C
    * must collapse into one cluster {A,B,C} before canonical selection
    * (keep the row whose id equals its component) or every pipeline
    * keeps conflicting survivors.
    *
    * Delegates to [[ConnectedComponents.run]] (alternating large-star /
    * small-star contraction): O(log² n) rounds regardless of component
    * DIAMETER — a 10k-link chain of pairwise near-dups converges in a
    * handful of rounds where plain min-label propagation needs 10k —
    * and no neighbor-list materialization anywhere.
    *
    * Returns (aCol, component): one row per node that appears in
    * `pairs`, component = min id reachable. Ids must be orderable. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame =
    ConnectedComponents.run(pairs, aCol, bCol, maxIter)
      .withColumnRenamed("node", aCol)

  /** Benchmark decontamination: (corpus doc, benchmark doc) pairs that
    * share at least `minShared` word n-grams — the standard check that
    * training data does not contain eval-set text (long n-grams, e.g.
    * n=13 in common practice; any shared one is near-verbatim overlap).
    * One hash join on the shingle, group by pair: the benchmark side is
    * tiny next to the corpus, so its shingle table broadcast-joins, and
    * the corpus is scanned once. Returns (corpusId, benchId, n_shared). */
  def contaminationPairs(
      corpus: DataFrame, corpusIdCol: String,
      benchmark: DataFrame, benchIdCol: String,
      textCol: String, n: Int, minShared: Int = 1): DataFrame = {
    val cs = wordShingleTable(corpus, corpusIdCol, textCol, n)
      .select(col("id").as("corpus_id"), col("g"))
    val bs = wordShingleTable(benchmark, benchIdCol, textCol, n)
      .select(col("id").as("bench_id"), col("g"))
    cs.join(broadcast(bs), "g")
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Per-document NOVELTY against a reference corpus: the fraction of
    * a document's distinct word n-grams NOT present anywhere in the
    * reference — the per-doc score behind benchmark-decontamination
    * thresholds ([[contaminationPairs]] gives the pair evidence; this
    * gives the rankable signal) and memorization screens. One hash
    * LEFT join on the shingle (the reference gram SET can be
    * arbitrarily large — never assume broadcastable; Catalyst
    * broadcasts on its own when it is small), one per-doc rollup.
    * Documents with fewer than n words yield no rows. Returns
    * (idCol, n_grams, n_overlap, novelty 6dp). */
  def noveltyScores(
      corpus: DataFrame, corpusIdCol: String,
      reference: DataFrame, textCol: String, n: Int): DataFrame = {
    val cs = wordShingleTable(corpus, corpusIdCol, textCol, n)
    val rg = wordShingleTable(
        reference.select(lit(0L).as("__rid"), col(textCol)),
        "__rid", textCol, n)
      .select("g").distinct().withColumn("__hit", lit(1L))
    cs.join(rg, Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_overlap"))
      .select(col("id").as(corpusIdCol), col("n_grams"), col("n_overlap"),
        round(lit(1.0) - col("n_overlap") / col("n_grams").cast("double"),
          6).as("novelty"))
  }

  /** Per-document duplicated n-gram fraction (the exact-substring dedup
    * signal of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — there over 50-token
    * suffix-array spans; here over word n-gram occurrences, which the
    * paper's NearDup/ExactSubstr analysis approximates for diagnostics):
    * the fraction of a document's n-gram OCCURRENCES (multiplicity kept)
    * whose gram also appears in at least `minDocs` distinct documents.
    * High fractions flag documents that are mostly corpus-duplicated
    * text even when no single whole-document match exists.
    *
    * Scale design: ONE scan of the corpus. The collapsed (id, gram,
    * count) table is materialized once (lazy localCheckpoint — the
    * "shingle state built once per corpus snapshot" pattern of
    * [[wordShingleTableCached]]); without it Catalyst prunes the count
    * column out of the document-frequency branch, the two aggregation
    * exchanges stop being identical, ReuseExchange no longer fires, and
    * the corpus is scanned + exploded TWICE (verified on the physical
    * plan). Document frequency then derives from that table via a
    * map-side-combined groupBy — deliberately NOT a count-over-window
    * partitioned by gram, which would shuffle every (doc, gram) row to
    * a single reducer per gram and melt on stopword-frequency grams.
    * The join back on `g` co-locates with the docFreq shuffle.
    *
    * Returns (idCol, n_grams, dup_grams, dup_frac) — one row per
    * document with >= n words; dup_frac rounded to 6 dp. */
  def duplicatedNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    // (id, g, cnt): occurrence count of each gram within each document,
    // collapsed map-side before the shuffle, materialized for dual use.
    val gramCounts = df
      .select(col(idCol).as("id"),
        explode(graft.functions.WordNgramsExpr
          .ngrams(col(textCol), n, distinct = false)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    // Document frequency per gram, from the already-collapsed table.
    val docFreq = gramCounts.groupBy("g")
      .agg(count(lit(1)).as("df_g"))
    gramCounts.join(docFreq, "g")
      .groupBy("id")
      .agg(
        sum(col("cnt")).as("n_grams"),
        sum(when(col("df_g") >= minDocs, col("cnt")).otherwise(lit(0L)))
          .as("dup_grams"))
      .select(col("id").as(idCol),
        col("n_grams"), col("dup_grams"),
        round(col("dup_grams").cast("double") / col("n_grams"), 6)
          .as("dup_frac"))
  }

  /** Maximal duplicated-span detection — the span-level unit of
    * "exact substring" dedup (Lee et al., ACL 2022 "Deduplicating
    * Training Data Makes Language Models Better" build a suffix array
    * and remove any 50-token span occurring twice; this is the
    * distributed k-gram-window formulation of the same predicate): a
    * token position is duplicated when some `k`-word window covering
    * it occurs >= `minOccurrences` times in the whole corpus
    * (within-document repeats count — repeated boilerplate inside one
    * page is still duplicated text), and overlapping duplicated
    * windows merge into MAXIMAL spans, so a verbatim 200-token quote
    * reports as one span of ~200 tokens, not 193 overlapping
    * windows.
    *
    * Unlike [[duplicatedNgramStats]] (gram-level duplicated fraction),
    * this returns the spans a removal pass would actually cut:
    * per document (idCol, n_tokens, n_spans, dup_tokens, max_span,
    * dup_frac) — dup_tokens = tokens covered by some duplicated
    * window, max_span the longest merged run, zeros for clean or
    * short (< k words) documents.
    *
    * Scale design (100 TB): the window-occurrence count and the
    * join-back are both key-partitioned on the gram string (map-side
    * combine collapses each document's repeats before the shuffle;
    * nothing is collected or broadcast — a web corpus's k-gram table
    * is unbounded). The gaps-and-islands merge runs in per-DOCUMENT
    * windows ordered by position — bounded by document length, the
    * same posture as the sessionize/interval-union family, never a
    * global window. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minOccurrences: Int = 2): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(minOccurrences >= 2, "minOccurrences must be >= 2")
    val pos = df.select(col(idCol).as("id"),
        posexplode(graft.functions.WordNgramsExpr
          .ngrams(col(textCol), k, distinct = false)).as(Seq("p", "g")))
    val occ = pos.groupBy("g").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOccurrences)
    val dup = pos.join(occ, "g").select(col("id"), col("p"))
    val byPos = Window.partitionBy("id").orderBy("p")
    val prevMaxEnd = max(col("p") + lit(k))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dup
      .withColumn("brk",
        when(prevMaxEnd.isNull || col("p") > prevMaxEnd, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(byPos))
    val spans = islands.groupBy("id", "island")
      .agg(min(col("p")).as("s"), (max(col("p")) + lit(k)).as("e"))
    val perDoc = spans.groupBy("id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s")).as("dup_tokens"),
      max(col("e") - col("s")).as("max_span"))
    df.select(col(idCol).as("id"),
        TextAnalysis.nTokensWhitespace(col(textCol)).cast("long")
          .as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("dup_frac"))
  }

  /** Pairwise corpus-overlap matrix: exact shingle-set Jaccard between
    * GROUPS of documents (sources, snapshots, shards) — the "how much
    * does crawl A overlap crawl B" diagnostic run before mixing
    * corpora. Collapses to distinct (group, shingle) first (the group
    * is the set-union of its documents' shingles), sizes each group,
    * then counts intersections through a shingle-keyed self-join whose
    * fanout per shingle is bounded by the GROUP count squared — never
    * by documents — so the plan survives any corpus size with a
    * bounded group set. Groups with zero shared shingles are omitted.
    * At a group count large enough that the pair matrix itself is the
    * problem, switch to [[minhashSignatures]] per group and estimate.
    * Returns (grp_a, grp_b, sz_a, sz_b, common, jaccard) with
    * grp_a < grp_b, jaccard 6dp-rounded. */
  def groupShingleOverlap(
      df: DataFrame, groupCol: String, textCol: String,
      n: Int): DataFrame = {
    // materialized ONCE: sh feeds both self-join sides and the size
    // table — without the checkpoint the plan re-derives it (corpus
    // scan + explode + distinct) four times
    val sh = ensureCheckpointed(df
      .where(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(graft.functions.WordNgramsExpr
          .ngrams(col(textCol), n, distinct = true)).as("g"))
      .distinct())
    val sz = sh.groupBy("grp").agg(count(lit(1)).as("sz"))
    val common = sh.select(col("grp").as("grp_a"), col("g"))
      .join(sh.select(col("grp").as("grp_b"), col("g")), "g")
      .where(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sz.select(col("grp").as("grp_a"), col("sz").as("sz_a")),
        "grp_a")
      .join(sz.select(col("grp").as("grp_b"), col("sz").as("sz_b")),
        "grp_b")
      .select(col("grp_a"), col("grp_b"), col("sz_a"), col("sz_b"),
        col("common"),
        round(col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")), 6).as("jaccard"))
  }

  /** Per-document n-gram contamination rate against a benchmark
    * corpus — the eval-leakage screen (WMT/GPT-style n-gram overlap):
    * for each document, the fraction of its DISTINCT word n-grams
    * that appear anywhere in the benchmark. The benchmark gram set is
    * explicitly broadcast — eval suites are tiny next to a training
    * corpus; for a benchmark too large to broadcast, pre-filter with
    * the Bloom path ([[BloomPrune]], the q99 pattern) and exact-join
    * the survivors. Documents with fewer than n words yield no rows.
    * Returns (idCol, n_grams, n_hit, contamination), 6dp-rounded. */
  def ngramContamination(
      docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val dg = wordShingleTable(docs, idCol, textCol, n)
    val bg = wordShingleTable(bench, idCol, textCol, n)
      .select(col("g"), lit(1).as("__hit")).distinct()
    dg.join(broadcast(bg), Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
      .select(col("id").as(idCol), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 6)
          .as("contamination"))
  }

  /** End-to-end near-dup dedup: collapse `pairs` into clusters
    * ([[connectedComponents]]) and keep ONE canonical row per cluster —
    * the one whose id equals the component label (= min id, deterministic)
    * — plus every row not in any pair: one left anti join against the
    * cluster members that are not their component's label. A row with
    * a null id matches nothing and is kept. The join broadcasts nothing
    * and shuffles on the id: at 100 TB the member table is tiny next to
    * the corpus (only docs with a near-dup appear in it). */
  def dedupByNearDupClusters(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dropped = connectedComponents(pairs, aCol, bCol)
      .where(col(aCol) =!= col("component"))
      .select(col(aCol).as("__ccid"))
    docs.join(dropped, docs(idCol) === col("__ccid"), "left_anti")
  }

  /** First-`n`-words fingerprint: the cheap document key behind
    * prefix dedup — news/crawl pipelines key on the leading words
    * because boilerplate-free article bodies start identically in a
    * re-publication even when trailing content (bylines, related-link
    * blocks) diverges. Lowercased whitespace words, space-joined;
    * shorter documents fingerprint on all their words. */
  def prefixFingerprint(textCol: Column, n: Int): Column =
    array_join(slice(TextAnalysis.words(textCol), 1, n), " ")

  /** Cross-source PRIORITY dedup loss matrix: group documents by a
    * prefix fingerprint, declare the winner of each group by a source
    * priority ladder (listed sources outrank unlisted ones, earlier
    * beats later, doc id breaks ties), and report what every source
    * LOSES to every winner — the "how much of crawl B is already in
    * curated A" table read before paying to process B. This is the
    * keep-highest-quality-copy flavor of exact dedup that multi-source
    * corpus assembly runs (licensed/curated sources outrank crawls).
    *
    * Scale design: one map-only fingerprint pass, then ONE shuffle on
    * the fingerprint where a whole-partition `min(struct)` window
    * picks the winner (state bounded by a group's multiplicity — no
    * join back, no second shuffle), then a map-side-combined groupBy
    * on the (loser, winner) source pair (|sources|² rows at most).
    * Documents with no words are excluded (an empty fingerprint would
    * glue all empty docs into one bogus group).
    *
    * Returns (loser_source, winner_source, n_docs_lost, tokens_lost)
    * — only groups with >1 member contribute; winner rows themselves
    * are never counted as lost. */
  def prefixPriorityDedup(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, prefixWords: Int,
      priority: Seq[String]): DataFrame = {
    require(prefixWords >= 1, s"prefixWords must be >= 1, got $prefixWords")
    val prio = priority.zipWithIndex.foldLeft(lit(priority.size)) {
      case (acc, (s, i)) => when(col("src") === s, lit(i)).otherwise(acc)
    }
    val base = df
      .select(col(idCol).cast("long").as("id"),
        col(sourceCol).cast("string").as("src"),
        TextAnalysis.words(col(textCol)).as("__ws"))
      .where(size(col("__ws")) > 0)
      .select(col("id"), col("src"),
        array_join(slice(col("__ws"), 1, prefixWords), " ").as("fp"),
        size(col("__ws")).cast("long").as("tk"), prio.as("prio"))
    val grp = Window.partitionBy("fp")
    base
      .withColumn("w",
        min(struct(col("prio"), col("id"), col("src"))).over(grp))
      .where(col("id") =!= col("w.id"))
      .groupBy(col("src").as("loser_source"),
        col("w.src").as("winner_source"))
      .agg(count(lit(1)).as("n_docs_lost"), sum(col("tk")).as("tokens_lost"))
  }

  /** Dedup saturation curve: bucket the corpus into `buckets`
    * equal-size slices by arrival order (ascending id — crawl order)
    * and report, per slice, how many documents were NOVEL (their
    * prefix fingerprint unseen in any earlier document) vs duplicates
    * of something already collected. A rising dup_frac tail is the
    * "more crawl stops yielding new data" signal that caps collection
    * budgets; a flat one says the corpus is far from saturated.
    *
    * Novelty is first-occurrence by GLOBAL minimum id per fingerprint
    * (one map-side-combined groupBy + one hash join back — order-free,
    * so it holds under any partitioning), and the arrival deciles come
    * from [[Sampling.groupNtile]]'s distributed exact ntile, never a
    * single-reducer `ntile() OVER (ORDER BY id)`.
    *
    * Returns (decile, n_docs, n_novel, dup_frac) for deciles 1..k. */
  def dedupSaturation(df: DataFrame, idCol: String, textCol: String,
      prefixWords: Int, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val base = df
      .select(col(idCol).cast("long").as("id"),
        TextAnalysis.words(col(textCol)).as("__ws"))
      .where(size(col("__ws")) > 0)
      .select(col("id"),
        array_join(slice(col("__ws"), 1, prefixWords), " ").as("fp"))
    val first = base.groupBy("fp").agg(min(col("id")).as("first_id"))
    val flagged = base.join(first, "fp")
      .select(col("id"), (col("id") === col("first_id")).as("novel"),
        lit("all").as("grp"))
    Sampling.groupNtile(flagged, "grp", "id", buckets, Seq("id"))
      .groupBy(col("bucket").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("novel"), 1L).otherwise(0L)).as("n_novel"),
        round(lit(1.0) -
          sum(when(col("novel"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("dup_frac"))
  }

  /** SemDeDup PRUNE decision per point (Abbas et al., arXiv:2303.09540
    * §3): k-means-cluster the embedding corpus
    * ([[Clustering.kmeansCentroids]]' engine-exact Lloyd — so an
    * external oracle can replay the trainer), verify cosine pairs only
    * WITHIN a cluster, and inside every duplicate relation keep the
    * point LEAST similar to its cluster centroid — the paper's rule:
    * the most centroid-typical copies are the redundant ones; the
    * outlying copy carries the information. Pairwise form (no
    * connected components, exactly as the paper implements it): drop x
    * iff some same-cluster y has round-6dp cos(x, y) >= threshold and
    * (ccos_y, id_y) < (ccos_x, id_x) — a strict total order, so every
    * duplicate relation keeps at least one member, deterministically.
    *
    * Scale design: the trainer's driver state is k·d doubles; the
    * assignment + centroid-cosine pass is one map-only scan (centroids
    * ride as literals); the within-cluster self-join shuffles on the
    * cluster id once and is quadratic only inside a cluster — which
    * nlist is chosen to bound (the paper runs ~100k clusters at web
    * scale). Returns one row per vector: (idCol, list_id, ccos, kept).
    */
  def semDedupPrune(df: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0, s"threshold must be > 0, got $threshold")
    val clean = df.where(col(vecCol).isNotNull)
    val centsLong =
      Clustering.kmeansCentroids(clean, idCol, vecCol, k, rounds)
    val cents = centsLong.select("cid", "pos", "val").collect() // k*d rows
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (cid, rs) =>
        val c = new Array[Double](rs.map(_.getInt(1)).max + 1)
        rs.foreach(r => c(r.getInt(1)) = r.getDouble(2))
        cid -> c
      }
    val xd = col(vecCol).cast("array<double>")
    val xn = sqrt(dotProduct(xd, xd))
    val scored = cents.map { case (cid, c) =>
      val cn = math.sqrt(c.map(v => v * v).sum)
      struct(
        (lit(-1.0) * round(
          dotProduct(xd, typedLit(c.toSeq)) / (xn * lit(cn)), 6)).as("nc"),
        lit(cid).as("cid"))
    }
    // argmax cosine with lowest-cid tie-break (Clustering.assign's
    // rule), keeping the winning rounded cosine: ccos = -nc exactly
    val best = sort_array(array(scored: _*)).getItem(0)
    val assigned = clean
      .select(col(idCol).cast("long").as("id"), xd.as("v"), xn.as("n"),
        best.getField("cid").as("list_id"),
        (lit(-1.0) * best.getField("nc")).as("ccos"))
      .localCheckpoint(false)
    val a = assigned.select(col("list_id"), col("id").as("i"),
      col("v").as("vi"), col("n").as("ni"), col("ccos").as("si"))
    val b = assigned.select(col("list_id"), col("id").as("j"),
      col("v").as("vj"), col("n").as("nj"), col("ccos").as("sj"))
    val dropped = a.join(b, Seq("list_id"))
      .where(col("i") =!= col("j"))
      .where(round(dotProduct(col("vi"), col("vj")) /
        (col("ni") * col("nj")), 6) >= threshold)
      .where(struct(col("sj"), col("j")) < struct(col("si"), col("i")))
      .select(col("i").as("id")).distinct()
    assigned
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("list_id"), col("ccos"),
        col("__drop").isNull.as("kept"))
  }

  /** TRANSITIVE-CHAIN drift audit of near-dup clusters: connected
    * components merge documents through chains (A~B, B~C ⇒ one
    * cluster) even when the endpoints are NOT near-dups — the classic
    * over-merge hazard of clustering by transitive closure that a
    * production dedup pass must measure before keep-one-per-cluster
    * deletes data. For every multi-doc cluster of the verified-pair
    * graph, computes exact Jaccard over ALL member pairs (not just the
    * edges) and reports the worst pair and how many fall below the
    * edge threshold — n_below > 0 is exactly "this cluster exists only
    * by chaining".
    *
    * Scale posture: the all-pairs step is quadratic in CLUSTER size,
    * so it runs only on clusters ≤ `maxClusterSize` (pair volume then
    * bounded by maxClusterSize · corpus); larger clusters are emitted
    * as rows with NULL audit fields — visible, never silently dropped
    * (the q250 ledger discipline). Joins: one equi self-join on the
    * cluster id, one shingle-intersection count keyed on (pair,
    * shingle), one bounded-key rollup. Returns (cluster, cluster_size,
    * n_pairs, min_pair_jaccard 6dp, n_below). */
  def clusterChainDrift(sh: DataFrame, docs: DataFrame, idCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      maxClusterSize: Int): DataFrame =
    clusterChainDriftFromPairs(sh,
      minhashNearDupPairsFromShinglesCached(sh, numHashes, bands, threshold),
      docs, idCol, threshold, maxClusterSize)

  /** [[clusterChainDrift]]'s audit core over an explicit verified-pair
    * edge list (i, j) — any near-dup pair source (MinHash, SimHash,
    * embedding) composes with the same closure + all-pairs audit. */
  def clusterChainDriftFromPairs(sh: DataFrame, pairs: DataFrame,
      docs: DataFrame, idCol: String, threshold: Double,
      maxClusterSize: Int): DataFrame = {
    require(maxClusterSize >= 2, s"maxClusterSize >= 2: $maxClusterSize")
    val labeled = ConnectedComponents.labelAll(
      docs.select(col(idCol)), idCol, pairs, "i", "j", "cluster")
    val sizes = labeled.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
      .where(col("cluster_size") >= 2)
      .localCheckpoint(false)
    val aud = sizes.where(col("cluster_size") <= maxClusterSize)
    val mem = labeled.join(aud.select("cluster"), "cluster")
      .select(col("cluster"), col(idCol).as("id"))
    val ap = mem.as("m1").join(mem.as("m2"),
        col("m1.cluster") === col("m2.cluster") &&
          col("m1.id") < col("m2.id"))
      .select(col("m1.cluster").as("cluster"),
        col("m1.id").as("i"), col("m2.id").as("j"))
    val sz = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = ap
      .join(sh.select(col("id").as("i"), col("g")), "i")
      .join(sh.select(col("id").as("j"), col("g")), Seq("j", "g"))
      .groupBy("cluster", "i", "j").agg(count(lit(1)).as("common"))
    val jac = ap
      .join(inter, Seq("cluster", "i", "j"), "left")
      .join(sz.withColumnRenamed("id", "i").withColumnRenamed("sz", "sa"),
        "i")
      .join(sz.withColumnRenamed("id", "j").withColumnRenamed("sz", "sb"),
        "j")
      .select(col("cluster"),
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("sa") + col("sb") - coalesce(col("common"), lit(0L))), 6)
          .as("jac"))
    val agg = jac.groupBy("cluster")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jac")).as("min_pair_jaccard"),
        sum(when(col("jac") < threshold, 1L).otherwise(0L)).as("n_below"))
    aud.join(agg, "cluster")
      .select(col("cluster"), col("cluster_size"), col("n_pairs"),
        col("min_pair_jaccard"), col("n_below"))
      .unionByName(sizes.where(col("cluster_size") > maxClusterSize)
        .select(col("cluster"), col("cluster_size"),
          lit(null).cast("long").as("n_pairs"),
          lit(null).cast("double").as("min_pair_jaccard"),
          lit(null).cast("long").as("n_below")))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting scheme), the scalable
    * stand-in for suffix-array exact-substring dedup (Lee et al., ACL
    * 2022 "Deduplicating Training Data Makes Language Models Better"):
    * hash every word k-gram, slide a w-gram window over the hash
    * sequence, and select the minimum hash of each window (rightmost
    * on ties). GUARANTEE: any two documents sharing a verbatim word
    * run of at least w + k - 1 tokens share at least one selected
    * fingerprint; expected fingerprint density is 2/(w+1) of gram
    * positions. Unlike MinHash (whole-document set resemblance), the
    * selected positions are LOCAL, so matches witness contiguous
    * copied spans — the memorization/license-leak signal MinHash
    * cannot give.
    *
    * Output: one row per distinct (id, pos, h) — the selected gram
    * position and its 28-bit hash (the md5 prefix family the minhash
    * ops already replay engine-independently).
    *
    * Scale design (100 TB): winnowing is document-local, so the whole
    * selection runs inside the codegen'd [[graft.functions.WinnowExpr]]
    * — one O(grams) monotonic-deque pass per row — and fingerprinting
    * is entirely MAP-SIDE: no gram explode across the wire, no
    * per-document window shuffle, no trailing distinct (the in-row
    * selection is already distinct). The relational equivalent
    * (posexplode → hash → min over a per-id ROWS window → distinct,
    * the form the DuckDB oracle replays) costs two corpus-wide
    * exchanges; this costs zero. Output is a deterministic ~2/(w+1)
    * sample of gram positions regardless of content. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1, s"gram size k must be >= 1: $k")
    require(w >= 1, s"window size w must be >= 1: $w")
    df.select(col(idCol).as("id"),
        explode(graft.functions.WinnowExpr.winnow(col(textCol), k, w))
          .as("f"))
      .select(col("id"), col("f.pos").as("pos"), col("f.h").as("h"))
  }

  /** [[winnowSharedSpans]], memoized+checkpointed per (input plan,
    * params) through the session-cache registry — the candidate-pair
    * build is shared by the q295/q316/q333/q334 family exactly like
    * [[jaccardPairsCached]]'s families. */
  def winnowSharedSpansCached(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, minShared: Int,
      maxDf: Int = 64): DataFrame =
    pairsCache.getOrElseUpdate((System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(),
      s"winnow:$idCol:$textCol:$k:$w:$minShared:$maxDf"))(
      winnowSharedSpans(df, idCol, textCol, k, w, minShared, maxDf)
        .localCheckpoint(false))

  /** Cross-document shared-span candidates from winnowing fingerprints:
    * pairs of documents sharing at least `minShared` distinct selected
    * hashes — each shared hash witnesses a verbatim k-token run, and by
    * the winnowing guarantee every copied span of w + k - 1 tokens is
    * caught. The corpus-frequency guard drops hashes selected in more
    * than `maxDf` documents BEFORE the pair join ([[bucketPairs]]'
    * cap: one boilerplate sentence selected in B documents would
    * otherwise fan out B·(B−1)/2 pairs), so per-hash join fanout is
    * bounded by maxDf² and the plan survives templated corpora.
    * Returns (i, j, n_shared) with i < j. */
  def winnowSharedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDf: Int = 64): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2 (a pair needs 2 docs): $maxDf")
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select("id", "h").distinct()
    bucketPairs(fp, Seq("h"), maxDf)
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Per-document duplicated-span coverage — the Lee et al. ACL 2022
    * "what fraction of each document is duplicated text" accounting,
    * computed from winnowing fingerprints: a fingerprint selected in
    * ≥ 2 documents witnesses a verbatim k-token run, so the words of
    * doc d covered by its cross-document-shared fingerprints' spans
    * [pos, pos+k−1] are d's duplicated mass. No pair join exists
    * anywhere — the only corpus-wide state is the per-HASH document
    * frequency (one map-side-combined groupBy), so boilerplate hashes
    * cost one counter, never a fanout, and the span union is an exact
    * ≤k-row explode per shared fingerprint + distinct positions per
    * document. All-integer output: (id, n_words, n_fp, n_shared_fp,
    * covered_words, dup_frac 6dp). */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select("id", "pos", "h")
    val docFreq = fp.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("__df"))
    val marked = fp.join(docFreq, Seq("h"))
      .select(col("id"), col("pos"), (col("__df") >= 2).as("shared"))
      .localCheckpoint(false) // feeds both the fp census and the union
    val census = marked.groupBy("id")
      .agg(count(lit(1)).as("n_fp"),
        count(when(col("shared"), 1)).as("n_shared_fp"))
    val covered = marked.where(col("shared"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("wp"))
      .groupBy("id")
      .agg(countDistinct(col("wp")).as("covered_words"))
    val words = df.select(col(idCol).as("id"),
      coalesce(size(graft.functions.WordNgramsExpr
        .ngrams(col(textCol), 1, distinct = false)), lit(0))
        .cast("long").as("n_words"))
    words.join(census, Seq("id"), "left")
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("n_words"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"),
        coalesce(col("covered_words"), lit(0L)).as("covered_words"),
        when(col("n_words") > 0,
          round(coalesce(col("covered_words"), lit(0L)).cast("double")
            / col("n_words"), 6)).otherwise(lit(0.0)).as("dup_frac"))
  }

  /** CHARACTER-PRECISION verification of winnowing candidates — the
    * closing step of the fingerprint family (Lee et al. ACL 2022's
    * candidate→exact-verify shape): [[winnowSharedSpans]] proposes the
    * df-guarded candidate pairs ("these documents share fingerprints");
    * this verifies each pair with the EXACT longest common substring of
    * the two raw texts via the suffix-automaton expression
    * [[graft.functions.LcsExpr]] (O(|a|+|b|) per pair, not the O(a·b)
    * DP). Returns (i, j, n_shared, lcs_len, i_start, j_start) — starts
    * 1-based in code points; a zero-length LCS (possible only for
    * degenerate texts) yields (0, 0, 0) spans.
    *
    * Scale design: candidates are bounded by the maxDf guard before any
    * text is joined back; the verify itself is pure map work over the
    * candidate pairs (two broadcast-or-hash equi joins to fetch texts,
    * then one codegen'd expression per pair) — no n² text comparison
    * ever exists in the plan. */
  def winnowExactSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDf: Int = 64): DataFrame = {
    val cand = winnowSharedSpansCached(df, idCol, textCol, k, w,
      minShared, maxDf)
    val ta = df.select(col(idCol).as("i"), col(textCol).as("__ta"))
    val tb = df.select(col(idCol).as("j"), col(textCol).as("__tb"))
    cand.join(ta, "i").join(tb, "j")
      .withColumn("__lcs",
        graft.functions.LcsExpr.lcs(col("__ta"), col("__tb")))
      .select(col("i"), col("j"), col("n_shared"),
        col("__lcs.len").as("lcs_len"),
        // first occurrence in doc i of the maximal span found in doc j
        // (locate/substr are code-point based on both engines)
        when(col("__lcs.len") > 0,
          expr("""CAST(locate(substring(__tb,
                 CAST(__lcs.b_start AS INT), CAST(__lcs.len AS INT)),
               __ta) AS BIGINT)"""))
          .otherwise(lit(0L)).as("i_start"),
        col("__lcs.b_start").as("j_start"))
  }

  /** Discount-weighted effective token mass under duplication — the
    * "repeated data is worth less" accounting of data-constrained
    * scaling (Muennighoff et al. 2023 showed repeated epochs decay in
    * value roughly geometrically; this is the per-duplicate-copy form
    * with ratio 1/2, INTEGER-floored so the whole measure is exact):
    * a text duplicated c times contributes Σ_{k=0}^{c−1} ⌊tok / 2^k⌋
    * effective tokens — copy 1 full value, copy 2 half, … — instead of
    * c·tok. Shifts cap at `maxShift` (terms are 0 beyond ⌊log2 tok⌋
    * anyway), keeping the per-group expansion bounded at
    * min(c, maxShift+1) rows regardless of how pathological a
    * duplicate family is.
    *
    * Per group: (group, n_docs, n_unique, total_tokens, eff_tokens,
    * eff_ratio 6 dp) — all token masses exact BIGINTs (no float
    * accumulation: the geometric discount is integer halving), so the
    * result is reproducible at any scale and partitioning.
    *
    * Scale design (100 TB): one shuffle to (group, normalized-text)
    * duplicate groups (map-side combined), a ≤(maxShift+1)-row
    * map-side expansion per GROUP (not per document), one final
    * group rollup. */
  def effectiveTokens(df: DataFrame, groupCol: String, textCol: String,
      maxShift: Int = 40): DataFrame = {
    require(maxShift >= 1 && maxShift <= 62,
      s"maxShift must be in [1, 62]: $maxShift")
    val groups = df.where(col(textCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
        normalizedText(col(textCol)).as("t"))
      .agg(count(lit(1)).as("c"),
        min(TextAnalysis.nTokensWhitespace(col(textCol)).cast("long"))
          .as("tok"))
    val stats = groups.groupBy("g")
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_unique"),
        sum(col("c") * col("tok")).as("total_tokens"))
    val eff = groups
      .select(col("g"), col("tok"),
        explode(sequence(lit(0),
          least(col("c") - 1, lit(maxShift)).cast("int"))).as("k"))
      .groupBy("g")
      .agg(sum(expr("shiftright(tok, k)")).as("eff_tokens"))
    stats.join(eff, Seq("g"))
      .select(col("g").as(groupCol), col("n_docs"), col("n_unique"),
        col("total_tokens"), col("eff_tokens"),
        round(col("eff_tokens").cast("double")
          / greatest(col("total_tokens"), lit(1L)), 6).as("eff_ratio"))
  }

  /** Winnowing-based decontamination: per (corpus doc, benchmark doc)
    * pair, the fraction of the BENCHMARK doc's fingerprints found in
    * the corpus doc — the asymmetric containment evidence an exact
    * anti-join (q52) and an n-gram rate (q129) cannot localize:
    * coverage 1.0 means every selected span of the benchmark document
    * appears verbatim, 0.2 means one shared phrase. The corpus-side
    * frequency guard (df ≤ `maxDf` corpus docs) drops boilerplate
    * hashes BEFORE the cross-side join, and coverage is counted over
    * distinct hashes so in-document repetition cannot inflate it.
    * Returns (corpus_id, bench_id, n_shared, bench_fp, coverage 6dp)
    * for pairs with coverage ≥ `minCoverage`.
    *
    * Scale design: both fingerprint tables are map-only
    * ([[graft.functions.WinnowExpr]]); the join is hash-equi on the
    * fingerprint with per-hash fanout ≤ maxDf · bench-df; benchmarks
    * are bounded corpora so the bench side broadcasts in practice. */
  def winnowContamination(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int, w: Int,
      minCoverage: Double, maxDf: Int = 64): DataFrame = {
    require(minCoverage >= 0.0 && minCoverage <= 1.0,
      s"minCoverage must be in [0,1]: $minCoverage")
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    val cfp = winnowFingerprints(corpus, idCol, textCol, k, w)
      .select("id", "h").distinct()
    val bfp = winnowFingerprints(bench, idCol, textCol, k, w)
      .select("id", "h").distinct()
    val bsz = bfp.groupBy("id").agg(count(lit(1)).as("bench_fp"))
    capBuckets(cfp, Seq("h"), maxDf, cfp)
      .select(col("h"), col("id").as("corpus_id"))
      .join(bfp.select(col("h"), col("id").as("bench_id")), Seq("h"))
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .join(bsz.select(col("id").as("bench_id"), col("bench_fp")),
        Seq("bench_id"))
      .select(col("corpus_id"), col("bench_id"), col("n_shared"),
        col("bench_fp"),
        round(col("n_shared").cast("double") / col("bench_fp"), 6)
          .as("coverage"))
      .where(col("coverage") >= minCoverage)
  }

  /** Diagonal alignment of winnowed matches — the MOSS-style
    * refinement over [[winnowSharedSpans]]: two fingerprints of a pair
    * that belong to ONE contiguous copied span sit on the same
    * alignment diagonal (pos_a − pos_b constant), so grouping matches
    * by (pair, diagonal) separates a long verbatim run (many matches,
    * one diagonal, wide position span) from scattered phrase reuse
    * (many diagonals, 1-2 matches each). Per qualifying pair
    * (>= `minShared` distinct shared hashes after the df <= `maxDf`
    * guard) emits
    * (i, j, n_shared_h, n_matches, n_diags, best_diag_matches,
    * best_span_tokens) where best_span_tokens = max(pos_a) − min(pos_a)
    * + k over the best diagonal (matches desc, span desc, diag asc —
    * a total, engine-replayable tie-break).
    *
    * Scale design: inherits the map-side fingerprint table and the
    * frequency guard's bounded per-hash fanout; the diagonal rollup
    * adds two hash aggregations and one window over per-pair diagonal
    * groups (bounded by the pair's fingerprint count). */
  def winnowAlignedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, maxDf: Int = 64): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2 (a pair needs 2 docs): $maxDf")
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
    val m = bucketPairs(fp, Seq("h"), maxDf,
        sizedOn = Some(fp.select("id", "h").distinct()))
    val diags = m
      .groupBy(col("i"), col("j"), (col("pos_i") - col("pos_j")).as("diag"))
      .agg(count(lit(1)).as("cnt"),
        (max(col("pos_i")) - min(col("pos_i")) + lit(k.toLong)).as("span"))
    val best = diags.withColumn("__rn", row_number().over(
        Window.partitionBy("i", "j")
          .orderBy(col("cnt").desc, col("span").desc, col("diag").asc)))
      .where(col("__rn") === 1)
      .select(col("i"), col("j"), col("cnt").as("best_diag_matches"),
        col("span").as("best_span_tokens"))
    val pairs = m.groupBy("i", "j")
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("h")).as("n_shared_h"),
        countDistinct(col("pos_i") - col("pos_j")).as("n_diags"))
      .where(col("n_shared_h") >= minShared)
    pairs.join(best, Seq("i", "j"))
      .select(col("i"), col("j"), col("n_shared_h"), col("n_matches"),
        col("n_diags"), col("best_diag_matches"), col("best_span_tokens"))
  }
  /** LSH banding planner — which (bands, rows-per-band) split of the
    * MinHash signature actually catches THIS corpus's near-duplicates:
    * for every factorization b*r = numHashes, the expected detection
    * probability P(s) = 1 - (1 - s^r)^b (the S-curve of Leskovec,
    * Rajaraman & Ullman ch. 3) evaluated against the EMPIRICAL
    * similarity list of verified near-dup pairs, not a hypothetical
    * threshold. One aggregate over the bounded verified-pair table —
    * the P columns are computed per factorization in a single pass and
    * unpivoted with stack(), so no join of any kind exists in the
    * plan. Returns per (bands, rows_per_band): n_pairs, avg_recall,
    * min_recall (6 dp). */
  def lshBandingPlan(pairs: DataFrame, simCol: String,
      numHashes: Int): DataFrame = {
    require(numHashes >= 2, s"numHashes must be >= 2: $numHashes")
    val splits = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    val s = col(simCol).cast("double")
    def pDetect(b: Int, r: Int) =
      lit(1.0) - pow(lit(1.0) - pow(s, lit(r)), lit(b))
    val aggs = count(lit(1)).as("n_pairs") +:
      splits.flatMap { case (b, r) => Seq(
        round(avg(pDetect(b, r)), 6).as(s"avg_$b"),
        round(min(pDetect(b, r)), 6).as(s"min_$b")) }
    val wide = pairs.agg(aggs.head, aggs.tail: _*)
    val stackArgs = splits.map { case (b, r) =>
      s"$b, $r, avg_$b, min_$b" }.mkString(", ")
    wide.select(col("n_pairs"), expr(
        s"stack(${splits.size}, $stackArgs) AS " +
          "(bands, rows_per_band, avg_recall, min_recall)"))
      .select(col("bands"), col("rows_per_band"), col("n_pairs"),
        col("avg_recall"), col("min_recall"))
      .orderBy("bands")
  }
}
