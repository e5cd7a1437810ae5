package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}

/** A seeded corpus with planted near-copies, and which documents the
  * Gopher quality rules keep. */
final case class Corpus(texts: Array[String], keep: Array[Boolean])

object Corpus {
  val ShingleN = 5
  /** A planted copy is re-drawn with a lighter edit below this Jaccard. */
  val MinCopyJaccard = 0.82

  def shingles(words: Array[String]): Set[String] =
    words.sliding(ShingleN).filter(_.length == ShingleN).map(_.mkString(" ")).toSet

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = shingles(a); val sb = shingles(b)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** Every pair (i < j) of kept documents whose word 5-shingle Jaccard is
    * at least `t`, with that Jaccard: the shared-shingle counts of all
    * pairs that share any shingle, from an inverted index. */
  def pairsAtLeast(c: Corpus, t: Double): Array[(Long, Long, Double)] = {
    val n = c.texts.length.toLong
    val sets = c.texts.indices.map(i =>
      if (c.keep(i)) shingles(c.texts(i).split(" ")) else Set.empty[String])
    val index = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()
    sets.indices.foreach(i =>
      sets(i).foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer()) += i))
    val common = mutable.HashMap[Long, Int]()
    index.valuesIterator.foreach { ds =>
      for (a <- ds.indices; b <- a + 1 until ds.size) {
        val k = ds(a) * n + ds(b)
        common(k) = common.getOrElse(k, 0) + 1
      }
    }
    common.iterator.map { case (k, m) =>
      val (i, j) = ((k / n).toInt, (k % n).toInt)
      (i.toLong, j.toLong, m.toDouble / (sets(i).size + sets(j).size - m))
    }.filter(_._3 >= t).toArray.sortBy(p => (p._1, p._2))
  }

  /** The Gopher rules `TextAnalysis.gopherFilter` applies with its
    * defaults, restated: 5 to 100000 words, mean word length 2 to 12,
    * at most 20% duplicated word bigrams. */
  def gopherKeeps(text: String): Boolean = {
    val w = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val meanLen = w.map(_.length).sum.toDouble / math.max(1, w.length)
    val bigrams = w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val dup = if (bigrams.isEmpty) 0.0 else 1.0 - bigrams.distinct.size.toDouble / bigrams.size
    w.length >= 5 && w.length <= 100000 && meanLen >= 2.0 && meanLen <= 12.0 &&
      dup <= 0.2
  }

  /** `bases` documents of 60 to 140 words drawn from a Zipf(1) vocabulary
    * of 8000 words; bases/5 near-copies, each of a random base, with one
    * word substituted mid-document and, most of the time, a few words cut
    * from or added to its end; and bases/25 documents the quality rules
    * drop (3-word stubs and a repeated 3-word phrase). Ids are a seeded
    * permutation, so copies are spread over the input files. */
  def generate(seed: Long, bases: Int): Corpus = {
    val r = new SplittableRandom(Rng.mix(seed, -1L))
    val vocab = Rng.vocabulary(8000, Rng.mix(seed, -2L))
    val cdf = {
      val w = (1 to vocab.size).map(k => 1.0 / k)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(vocab.size - 1, if (i >= 0) i else -i - 1))
    }
    val baseWords = Array.fill(bases)(Array.fill(60 + r.nextInt(81))(draw()))
    val nCopies = bases / 5
    val copyOf = Array.fill(nCopies)(r.nextInt(bases))
    val copyWords = copyOf.map { b =>
      val src = baseWords(b)
      val sub = src.clone()
      sub(src.length / 4 + r.nextInt(src.length / 2)) = draw()
      val tailed = r.nextInt(3) match {
        case 0 => sub.dropRight(1 + r.nextInt(5))
        case 1 => sub ++ Array.fill(1 + r.nextInt(5))(draw())
        case _ => sub
      }
      if (jaccard(src, tailed) >= MinCopyJaccard) tailed else sub
    }
    val nJunk = bases / 25
    val junkWords = Array.tabulate(nJunk) { i =>
      if (i % 2 == 0) Array.fill(3)(draw())
      else { val p = Array.fill(3)(draw()); Array.fill(8)(p).flatten }
    }
    // document k of the generated order gets id perm(k)
    val n = bases + nCopies + nJunk
    val perm = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val texts = new Array[String](n)
    val all = baseWords ++ copyWords ++ junkWords
    all.indices.foreach(k => texts(perm(k)) = all(k).mkString(" "))
    Corpus(texts, texts.map(gopherKeeps))
  }
}

/** `TextAnalysis.gopherFilter` -> `Dedup.wordShingleTable(n=5)` ->
  * `Dedup.jaccardPairs(0.8)` -> `Dedup.dedupByNearDupClusters`, each step
  * materialised.
  *
  * Checks: the kept documents are exactly those the quality rules keep;
  * the verified pairs are exactly the pairs of kept documents whose word
  * 5-shingle Jaccard is at least the threshold, each with its exact
  * Jaccard; the pair set is identical on every op of a run; and the
  * deduplicated ids are the kept ids minus every non-minimal member of
  * the clusters the verified pairs form. */
final class DedupWorkload extends Workload {
  val name = "jaccard_dedup"
  val layer = "ops"
  private val bases = 3000
  private val Threshold = 0.8

  private var docs: DataFrame = _
  private var corpus: Corpus = _
  private var truth: Array[(Long, Long, Double)] = Array.empty

  private var kept: DataFrame = _
  private var pairs: DataFrame = _
  private var dedupIds: Array[Long] = _
  private var lastPairs: Array[(Long, Long, Double)] = Array.empty
  private var firstPairs: Option[Seq[(Long, Long, Double)]] = None

  def describe: String = {
    val n = bases + bases / 5 + bases / 25
    s"$n docs: $bases bases, ${bases / 5} planted near-copies, ${bases / 25} junk"
  }

  def setup(spark: SparkSession, dir: String, seed: Long, files: Int): Unit = {
    corpus = Corpus.generate(seed, bases)
    import spark.implicits._
    spark.sparkContext
      .parallelize(corpus.texts.indices.map(i => (i.toLong, corpus.texts(i))), files)
      .toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    docs = spark.read.parquet(dir)
    val t = docs.agg(count(lit(1)), count_distinct(col("id")), max(col("id"))).head()
    require(t.getLong(0) == corpus.texts.length && t.getLong(1) == t.getLong(0) &&
      t.getLong(2) == corpus.texts.length - 1, s"corpus written wrong: $t")
    truth = Corpus.pairsAtLeast(corpus, Threshold)
  }

  def op(spark: SparkSession, t: Tracer): Unit = {
    kept = t.span("ops.quality") {
      val q = TextAnalysis.gopherFilter(docs, "id", "text")
      Materialized(docs.join(q.where(col("keep")).select("id"), Seq("id"), "left_semi"))
    }
    val sh = t.span("ops.shingle") {
      Materialized(Dedup.wordShingleTable(kept, "id", "text", Corpus.ShingleN))
    }
    pairs = t.span("ops.pairs") {
      Materialized(Dedup.jaccardPairs(sh, Threshold))
    }
    dedupIds = t.span("ops.cluster") {
      Dedup.dedupByNearDupClusters(kept, "id", pairs, "i", "j")
        .select("id").collect().map(_.getLong(0))
    }
  }

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val keptIds = kept.select("id").collect().map(_.getLong(0)).sorted
    val wantKept = corpus.keep.indices.filter(corpus.keep(_)).map(_.toLong)
    if (!keptIds.sameElements(wantKept))
      errs += s"quality kept ${keptIds.length} docs, expected ${wantKept.size}"
    lastPairs = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    val got = lastPairs.map(p => (p._1, p._2) -> p._3).toMap
    val want = truth.map(p => (p._1, p._2) -> p._3).toMap
    val missing = want.keySet.diff(got.keySet).size
    val extra = got.keySet.diff(want.keySet).size
    if (missing > 0) errs += s"$missing of ${want.size} pairs at Jaccard >= $Threshold not found"
    if (extra > 0) errs += s"$extra pairs reported that are below Jaccard $Threshold"
    val offJ = got.count { case (k, j) => want.get(k).exists(s => math.abs(j - s) > 1e-6) }
    if (offJ > 0) errs += s"$offJ pairs report a Jaccard off the exact value"
    firstPairs match {
      case None => firstPairs = Some(lastPairs.toSeq)
      case Some(f) if f != lastPairs.toSeq => errs += "pair set differs from the run's first op"
      case _ =>
    }
    if (!dedupIds.sorted.sameElements(expectedDedup(wantKept, lastPairs)))
      errs += s"dedup kept ${dedupIds.length} docs, not the clusters' canonical set"
    errs.result()
  }

  /** Kept ids minus every cluster member that is not its cluster's
    * smallest id, clusters being the components of the pair graph. */
  private def expectedDedup(keptIds: Seq[Long],
      ps: Array[(Long, Long, Double)]): Seq[Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    ps.foreach { case (i, j, _) =>
      val (a, b) = (find(i), find(j))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    keptIds.filter(id => find(id) == id)
  }

  val spanMetrics: Seq[(String, String)] = Seq(
    "ops.quality" -> "ops.quality_s",
    "ops.shingle" -> "ops.shingle_s",
    "ops.pairs" -> "ops.pairs_s",
    "ops.cluster" -> "ops.cluster_s")

  override def traceCounts(spark: SparkSession): Map[String, Double] =
    Map("ops.verified_pairs" -> lastPairs.length.toDouble)
}
