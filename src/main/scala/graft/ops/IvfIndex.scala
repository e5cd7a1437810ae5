package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions._

/** IVF (inverted-file) approximate-nearest-neighbor index over an
  * embedding column — the coarse-quantizer scale path for similarity
  * search (complements the SRP-LSH variant in [[Similarity]]).
  *
  * Build: k-means (MLlib, fixed seed -> deterministic) assigns every
  * corpus vector to its nearest of `nlist` centroids; the corpus is
  * REPARTITIONED BY LIST so each posting list is physically co-located —
  * the layout a 100 TB deployment would persist (partitioned parquet,
  * partition pruning turns a probe into an nprobe-partition scan).
  *
  * Query: score each probe against centroids (tiny, broadcast), take the
  * `nprobe` nearest lists, then exact cosine only within those lists.
  * Recall/cost tradeoff is nprobe/nlist as in FAISS-style IVF-Flat.
  */
object IvfIndex {

  final case class Index(
      /** (list_id, id, vec) — corpus partitioned by posting list. */
      postings: DataFrame,
      /** (list_id, centroid array<double>) — small, driver/broadcast. */
      centroids: DataFrame)

  /** Session-scoped index cache: an IVF index is built once per corpus
    * snapshot and amortized over every probe batch — the production
    * shape (persist the posting-list layout, query many). Keyed like
    * the shingle cache: session identity + analyzed-plan semantic hash
    * + build params; bounded LRU(2) (a posting table is corpus-sized).
    * Opt-in via [[buildCached]]. */
  private val indexCache =
    new SessionCache[(Int, Int, String, String, Int, Long, Int), Index](2)

  /** Drop every memoized index. Kept for targeted test use; Bench now
    * clears the whole registry via [[SessionCache.clearAll]]. */
  def clearIndexCache(): Unit = indexCache.clear()

  /** [[build]], memoized per session + input plan + params, with the
    * posting table checkpointed so repeated searches share one k-means
    * run and one materialized layout. */
  def buildCached(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L, maxIter: Int = 10): Index =
    indexCache.getOrElseUpdate((System.identityHashCode(corpus.sparkSession),
      corpus.queryExecution.analyzed.semanticHash(), idCol, vecCol,
      nlist, seed, maxIter)) {
      val idx0 = build(corpus, idCol, vecCol, nlist, seed, maxIter)
      idx0.copy(postings = idx0.postings.localCheckpoint(false))
    }

  def build(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L, maxIter: Int = 10): Index = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val base = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val assembled = base.withColumn("features", array_to_vector(col("vec")))
    // a coarse quantizer needs rough cells, not convergence: 10 rounds
    // is the FAISS-style default; recall is governed by nprobe anyway
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("list_id")
      .fit(assembled)
    val postings = model.transform(assembled)
      .select(col("list_id"), col("id"), col("vec"))
      .repartition(col("list_id"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("list_id", "centroid")
    Index(postings, centroids)
  }

  /** Top-k cosine neighbors per probe, scanning only the nprobe nearest
    * posting lists of each probe. The union of probed lists (bounded by
    * nlist regardless of probe count) is collected and pushed as a
    * STATIC filter on the postings side — over a [[load]]ed index that
    * becomes parquet PARTITION PRUNING, so the scan reads only the
    * probed list directories. */
  def search(index: Index, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val p = probes.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    // rank centroids per probe (centroid table is tiny -> broadcast)
    val scored = p.crossJoin(broadcast(index.centroids))
      .withColumn("csim", cosineSimilarity(col("qv"), col("centroid")))
    val wc = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("list_id"))
    // eagerly materialized so the collected static filter below and the
    // candidate join read the SAME probe-to-list assignment — without
    // this, a nondeterministic probes plan (sample/rand/uncheckpointed
    // shuffle) could re-evaluate differently and drop valid lists
    val probeLists = scored
      .withColumn("crnk", row_number().over(wc))
      .where(col("crnk") <= nprobe)
      .select(col("query_id"), col("qv"), col("list_id"))
      .localCheckpoint(true)
    // the probed-list set is at most nlist values — a driver round-trip
    // here buys a static partition filter on the corpus-sized side
    val probedLists: Array[Any] = probeLists
      .select("list_id").distinct().collect().map(_.get(0))
    val prunedPostings =
      if (probedLists.isEmpty) index.postings
      else index.postings.where(col("list_id").isin(probedLists: _*))
    // exact cosine only within the selected lists
    val candidates = probeLists.join(prunedPostings, "list_id")
      .where(col("query_id") =!= col("id"))
      .withColumn("cos", round(cosineSimilarity(col("qv"), col("vec")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("id"))
    candidates.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("id").as("neighbor_id"),
        col("cos"))
  }

  /** Persist the index in the layout a large deployment keeps: postings
    * as parquet PARTITIONED BY list_id — each posting list is one
    * directory, so a probe touching nprobe lists scans exactly nprobe
    * partitions ([[search]] pushes the probed-list set as a static
    * filter, which the parquet source turns into partition pruning) —
    * and the (tiny) centroid table alongside. */
  def write(index: Index, path: String): Unit = {
    index.postings.write
      .partitionBy("list_id").mode("overwrite").parquet(s"$path/postings")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a [[write]]ten index. The postings scan carries list_id as a
    * partition column; searches prune to the probed lists. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index =
    Index(
      postings = spark.read.parquet(s"$path/postings")
        .select(col("list_id"), col("id"), col("vec")),
      centroids = spark.read.parquet(s"$path/centroids"))
}
