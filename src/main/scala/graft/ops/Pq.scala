package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions.dotProduct

/** Product Quantization (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — public algorithm): split
  * each d-dim vector into `m` subvectors, learn a small L2 k-means
  * codebook PER SUBSPACE, store each vector as m byte-sized codes, and
  * answer queries by Asymmetric Distance Computation (ADC): the query
  * precomputes its distance to every codebook centroid (m·k values),
  * and a vector's approximate distance is the SUM of m table lookups —
  * the memory rung between SQ8 (4× compression, q203/q219) and IVF
  * partition pruning (q26b/q26c): m·log2(k) bits per vector instead of
  * d floats, which is what makes billion-vector ANN fit in RAM.
  *
  * Spark-first scale shape: codebooks are tiny (m·k·(d/m) values) and
  * live broadcast; training assignment, encoding, and ADC scoring are
  * all map-side joins against that broadcast — one corpus scan each,
  * no shuffle wider than the final bounded top-k. At 100 TB the
  * codes table is ~d/(m·log2 k)× smaller than the corpus, and the ADC
  * scan reads ONLY codes.
  *
  * Determinism contract (the q161/q240 quantized-trainer discipline,
  * so a DuckDB oracle can replay every step bit-for-bit): init = the
  * k lowest-id vectors' subvectors; assignment distance =
  * round(x·x − 2·x·c + c·c, 6) from SEQUENTIAL dot products with ties
  * to the lower cid; Lloyd means floor-quantized at 1e-6 then rounded
  * to 9 dp; emptied codes carry the previous centroid; ADC/exact
  * distances quantized to exact integer MICROS (floor(d·1e6 + 0.5))
  * and summed as longs, ranked by (distance, id). */
object Pq {

  /** Codebooks after `rounds` Lloyd iterations, long format:
    * (s, cid, pos, val) — subspace s ∈ [0, m), code cid ∈ [0, k),
    * pos ∈ [0, d/m), val = 9-dp component mean. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, rounds: Int): DataFrame = {
    val (spark, subDim) = (corpus.sparkSession, dim / m)
    require(dim % m == 0, "m must divide dim")
    require(k > 0 && rounds > 0, "k and rounds must be positive")
    val clean = corpus.where(col(vecCol).isNotNull)
    val xd = col(vecCol).cast("array<double>")
    // init: subvectors of the k lowest-id vectors (bounded TakeOrdered)
    var cents: Map[(Int, Int), Array[Double]] = clean
      .select(col(idCol), xd.as("v")).orderBy(col(idCol)).limit(k)
      .collect().zipWithIndex.flatMap { case (r, cid) =>
        val v = r.getSeq[Double](1).toArray
        (0 until m).map(s => (s, cid) -> v.slice(s * subDim, (s + 1) * subDim))
      }.toMap

    for (_ <- 1 to rounds) {
      val upd = assignCodes(clean, vecCol, m, subDim, cents)
        .select(col("s"), col("code"),
          posexplode(slice(xd, col("s") * subDim + 1, lit(subDim)))
            .as(Seq("pos", "xv")))
        .groupBy("s", "code", "pos")
        .agg(round(
          sum(floor(col("xv") * lit(1e6) + lit(0.5)).cast("long"))
            .cast("double") / lit(1e6) / count(lit(1)), 9).as("val"))
        .collect() // bounded: m*k*subDim rows
      val next: Map[(Int, Int), Array[(Int, Double)]] = upd
        .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
        .groupBy(_._1)
        .map { case (key, rs) => key -> rs.map(_._2) }
      cents = cents.map { case (key, prev) =>
        next.get(key) match {
          case Some(rs) =>
            val c = prev.clone()
            rs.foreach { case (pos, v) => c(pos) = v }
            key -> c
          case None => key -> prev // emptied code: carry forward
        }
      }
    }
    import spark.implicits._
    cents.toSeq.flatMap { case ((s, cid), c) =>
      c.iterator.zipWithIndex.map { case (v, pos) => (s, cid, pos, v) }
    }.toDF("s", "cid", "pos", "val").orderBy("s", "cid", "pos")
  }

  /** [[trainCodebooks]], memoized per (corpus, params) via
    * [[EvalCache]]: q254 pays the Lloyd rounds, q255 (same corpus,
    * same params) reuses the trained codebooks. */
  def trainCodebooksCached(corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, k: Int, rounds: Int): DataFrame =
    EvalCache.cached(corpus.sparkSession,
      s"pqcb:${EvalCache.semKey(corpus)}:$idCol:$vecCol:$dim:$m:$k:$rounds")(
      trainCodebooks(corpus, idCol, vecCol, dim, m, k, rounds))

  /** Per-subspace nearest-code assignment: (id cols ++ (s, code)).
    * One row per (vector, subspace); map-side (codebooks broadcast as
    * literals inside the expression tree). */
  private def assignCodes(df: DataFrame, vecCol: String, m: Int,
      subDim: Int, cents: Map[(Int, Int), Array[Double]]): DataFrame = {
    // encode/adcRecall run on arbitrary caller frames: a corpus already
    // carrying the working/output names would silently mislabel or fail
    // ambiguous — fail loud instead (AsOfJoinPhysical's contract)
    require(!df.columns.exists(Set("s", "code", "__pq_sc")),
      "PQ input must not carry columns named s, code, or __pq_sc " +
        "(reserved working/output names); rename them first")
    val xd = col(vecCol).cast("array<double>")
    val perSub = (0 until m).map { s =>
      val sv = slice(xd, s * subDim + 1, subDim)
      val xx = dotProduct(sv, sv)
      val scored = cents.collect { case ((`s`, cid), c) =>
        val cc = c.map(v => v * v).sum // driver: left-to-right, same order
        struct(
          round(xx - lit(2.0) * dotProduct(sv, typedLit(c.toSeq)) + lit(cc),
            6).as("d"),
          lit(cid).as("cid"))
      }.toSeq
      struct(lit(s).as("s"),
        sort_array(array(scored: _*)).getItem(0).getField("cid").as("code"))
    }
    df.select(col("*"), explode(array(perSub: _*)).as("__pq_sc"))
      .select(col("*"), col("__pq_sc.s").as("s"),
        col("__pq_sc.code").as("code"))
      .drop("__pq_sc")
  }

  /** Encode the corpus: (id, s, code) — m rows per vector.
    *
    * r17: broadcast-relation join instead of the [[assignCodes]]
    * literal-tree projection. The A/B recorded in OPTIMIZATION_r17.md
    * (sf0.1, 32 cores) measured the literal expression at 1.53 s/scan
    * vs 0.24-0.63 s for this shape with byte-identical output (except()
    * empty both ways):
    * q254's cost was never Catalyst planning (~0.1 s warm) but the
    * EXECUTION of the m*k unrolled dot-product/sort_array tree per row.
    * Arithmetic is term-for-term the literal path's — the same
    * codegen'd sequential [[dotProduct]], cc summed left-to-right on
    * the driver, round(..., 6), and min(struct(d, cid)) reproduces
    * sort_array's (d, cid) tie-break — so the oracle replay is
    * untouched. Scale shape: the codebook relation is m*k rows
    * (broadcast), the explode emits m SUBVECTOR rows per vector, and
    * the (id, s) argmin groupBy reduces map-side to one narrow row per
    * group before the exchange — ~20 B * m per vector, negligible next
    * to the corpus scan. [[trainCodebooks]] keeps the literal
    * projection: its Lloyd update needs the assigned SUBVECTOR after
    * the argmin, and carrying it through this groupBy would shuffle
    * corpus*dim bytes per round (the guide's "shuffle heavy payloads
    * once" rule, inverted) — zero-shuffle assignment wins there. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, cents: DataFrame): DataFrame = {
    require(!corpus.columns.exists(Set("s", "code", "__pq_sc")),
      "PQ input must not carry columns named s, code, or __pq_sc " +
        "(reserved working/output names); rename them first")
    val spark = corpus.sparkSession
    import spark.implicits._
    val subDim = dim / m
    val centRows = centMap(cents).toSeq.map { case ((s, cid), c) =>
      // cc on the driver: Array.sum folds left-to-right in index order,
      // the same sequence as an in-engine dot product (assignCodes' rule)
      (s, cid, c.toSeq, c.map(v => v * v).sum)
    }.toDF("s", "cid", "cv", "cc")
    val xd = col(vecCol).cast("array<double>")
    val subs = (0 until m).map(s =>
      struct(lit(s).as("s"), slice(xd, s * subDim + 1, subDim).as("sv")))
    corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), explode(array(subs: _*)).as("kv"))
      .select(col("id"), col("kv.s").as("s"), col("kv.sv").as("sv"))
      .join(broadcast(centRows), "s")
      .select(col("id"), col("s"),
        struct(
          round(dotProduct(col("sv"), col("sv")) -
            lit(2.0) * dotProduct(col("sv"), col("cv")) +
            col("cc"), 6).as("d"),
          col("cid").as("cid")).as("sc"))
      .groupBy("id", "s").agg(min(col("sc")).as("best"))
      .select(col("id"), col("s"), col("best.cid").as("code"))
  }

  /** [[encode]], memoized per (corpus, codebooks, params): the codes
    * table is the PQ-compressed corpus — materializing it once and
    * letting every ADC consumer read codes (not vectors) is exactly
    * the deployment layout, and q254/q255 share one encode scan. */
  def encodeCached(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, cents: DataFrame): DataFrame =
    EvalCache.cached(corpus.sparkSession,
      s"pqcodes:${EvalCache.semKey(corpus)}:${EvalCache.semKey(cents)}:" +
        s"$idCol:$vecCol:$dim:$m")(
      encode(corpus, idCol, vecCol, dim, m, cents))

  /** Recall@`k` of PQ-ADC against exact L2 over the same corpus, for
    * each query vector (self excluded on both sides): one row
    * (query_id, n_overlap, recall_at_k) per query. `cents` is
    * [[trainCodebooks]]' output. */
  def adcRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, cents: DataFrame,
      k: Int): DataFrame = {
    val codes = encodeCached(corpus, idCol, vecCol, dim, m, cents)
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val dtab = adcDistanceTable(q, dim, m, cents)
    val adc = codes.join(broadcast(dtab),
        codes("s") === dtab("s") && codes("code") === dtab("cid"))
      .where(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("dmic")).as("dist"))
    val adcTop = rankTop(adc, k)
    recallVsExact(corpus, idCol, vecCol, q, adcTop, k)
  }

  /** IVF-PQ: coarse posting-list pruning + PQ-ADC scoring inside the
    * probed lists — the FAISS-IVFPQ composition, which is what a
    * billion-vector deployment actually runs: the coarse quantizer
    * bounds WHICH vectors are scored (nprobe/nlist of the corpus, and
    * over a q26c-style persisted layout that is parquet partition
    * pruning), PQ bounds WHAT is read per vector (m codes, not d
    * floats). `ivfCents` is [[Clustering.kmeansCentroids]]' long-format
    * output — the deterministic cosine trainer, so an oracle can
    * replay the lists (q161's contract); [[graft.ops.IvfIndex]] stays
    * the MLlib-backed production builder. Recall is measured against
    * exact L2 over the FULL corpus, so it prices pruning loss and
    * quantization loss together. */
  def ivfAdcRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, pqCents: DataFrame,
      ivfCents: DataFrame, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val lists: Seq[(Int, Array[Double])] = ivfCents
      .select(col("cid"), col("pos"), col("val")).collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getDouble(2))))
      .groupBy(_._1).toSeq
      .map { case (cid, rs) =>
        val arr = new Array[Double](rs.map(_._2._1).max + 1)
        rs.foreach { case (_, (pos, v)) => arr(pos) = v }
        (cid, arr)
      }.sortBy(_._1)
    // corpus -> posting list (cosine argmax, Clustering.assign's exact
    // rounding/tie contract)
    val assigned = Clustering
      .assign(corpus.where(col(vecCol).isNotNull), vecCol, lists)
      .select(col(idCol).as("id"), col("cid").as("list_id"))
    // query -> top-nprobe lists by the same centroid scoring
    val xd = col(vecCol).cast("array<double>")
    val xn = sqrt(dotProduct(xd, xd))
    val scoredLists = lists.map { case (cid, c) =>
      val cn = math.sqrt(c.map(v => v * v).sum)
      struct(
        (lit(-1.0) * round(dotProduct(xd, typedLit(c.toSeq)) /
          (xn * lit(cn)), 6)).as("nc"),
        lit(cid).as("cid"))
    }
    val qLists = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("qid"),
        explode(slice(sort_array(array(scoredLists: _*)), 1, nprobe))
          .as("pr"))
      .select(col("qid"), col("pr.cid").as("list_id"))
    // candidate set FIRST (bounded by the probed lists — at scale this
    // is the partition-pruned codes scan), then the ADC lookup-sum
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val cand = qLists.join(assigned, "list_id")
      .where(col("id") =!= col("qid"))
      .select("qid", "id")
    val codes = encodeCached(corpus, idCol, vecCol, dim, m, pqCents)
    val dtab = adcDistanceTable(q, dim, m, pqCents)
    val adc = cand.join(codes, "id")
      .join(broadcast(dtab), Seq("qid", "s"))
      .where(col("code") === col("cid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("dmic")).as("dist"))
    recallVsExact(corpus, idCol, vecCol, q, rankTop(adc, k), k)
  }

  /** Per-query distance table: (qid, s, cid, dmic) — the query's
    * integer-micros L2 distance to every PQ centroid. m·k rows per
    * query; broadcast at every use site. */
  private def adcDistanceTable(q: DataFrame, dim: Int, m: Int,
      cents: DataFrame): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val subDim = dim / m
    val centRows = centMap(cents).toSeq
      .map { case ((s, cid), c) => (s, cid, c.toSeq) }
      .toDF("s", "cid", "cv")
    val qs = slice(col("qv"), col("s") * subDim + 1, lit(subDim))
    val cvd = col("cv").cast("array<double>")
    q.crossJoin(broadcast(centRows))
      .select(col("qid"), col("s"), col("cid"),
        floor((dotProduct(qs, qs) - lit(2.0) * dotProduct(qs, cvd) +
          dotProduct(cvd, cvd)) * lit(1e6) + lit(0.5)).cast("long")
          .as("dmic"))
  }

  /** Exact-L2 top-k over the full corpus (probes broadcast, the q26
    * brute-force shape) and the per-query overlap with `approxTop`;
    * zero-recall queries stay visible (a dropped row would hide
    * exactly the queries where the approximation failed hardest). */
  private def recallVsExact(corpus: DataFrame, idCol: String,
      vecCol: String, q: DataFrame, approxTop: DataFrame,
      k: Int): DataFrame = {
    val c = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // the exact rank table is metric state shared by every recall row
    // over the same (corpus, queries, k) — q254 builds it, q255 reuses
    val exactTop = EvalCache.cached(corpus.sparkSession,
      s"exacttop:${EvalCache.semKey(c)}:${EvalCache.semKey(q)}:$k") {
      val exact = c.crossJoin(broadcast(q)).where(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          floor((dotProduct(col("v"), col("v")) -
            lit(2.0) * dotProduct(col("v"), col("qv")) +
            dotProduct(col("qv"), col("qv"))) * lit(1e6) + lit(0.5))
            .cast("long").as("dist"))
      rankTop(exact, k)
    }
    val hits = exactTop.join(approxTop, Seq("qid", "id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("__n"))
    q.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid").as("query_id"),
        coalesce(col("__n"), lit(0L)).as("n_overlap"),
        round(coalesce(col("__n"), lit(0L)).cast("double") / k, 6)
          .as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  private def rankTop(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist"), col("id"))))
      .where(col("rnk") <= k).select("qid", "id")
  }

  private def centMap(cents: DataFrame): Map[(Int, Int), Array[Double]] =
    cents.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getInt(2), r.getDouble(3))))
      .groupBy(_._1)
      .map { case (key, rs) =>
        val arr = new Array[Double](rs.length)
        rs.foreach { case (_, (pos, v)) => arr(pos) = v }
        key -> arr
      }
}
