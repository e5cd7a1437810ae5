package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.ops.Dedup

/** Streaming MinHash-LSH near-duplicate CANDIDATE detection — the
  * unbounded-stream counterpart of `Dedup.minhashLshPairs`' candidate
  * stage: as documents arrive, each one is checked against every
  * earlier member of each of its LSH band buckets, so a near-duplicate
  * of anything already ingested surfaces immediately instead of at the
  * next batch dedup run (the "is this crawl page a copy of something
  * we already have" gate of a continuous ingest pipeline).
  *
  * Spark-first shape: the signature is computed ROW-LOCALLY — a
  * document's shingles live inside its own row, so banding needs no
  * shuffle at all (one md5 per distinct shingle via the
  * Kirsch-Mitzenmacher double-hash family, identical to the batch
  * operator) — and the only stateful step is a
  * `flatMapGroupsWithState` keyed by (band, bucket key) whose state is
  * the bucket's member ids, CAPPED at `maxBucket` exactly like the
  * batch guard: the first `maxBucket` members pair among themselves,
  * later arrivals to a degenerate bucket are dropped (and that
  * bucket's state stops growing). PER-BUCKET state is therefore
  * bounded, but the bucket UNIVERSE is not: a stream of endlessly
  * distinct documents keeps minting new (band, key) groups, so
  * TOTAL state grows with the distinct-bucket count — O(corpus) on a
  * continuous ingest. For bounded total state use
  * [[lshCandidatePairsEventTime]], whose watermark-certified TTL
  * expires idle buckets (the same retention contract as
  * [[StreamingDedup.dedupByFingerprintEventTime]]). Candidates still
  * need the exact Jaccard verify downstream, same as batch.
  */
object StreamingNearDup {

  final case class CandidatePair(band: Int, i: Long, j: Long)

  /** (band, key, id[, ts]) rows ready for per-bucket grouping: the
    * row-local signature + banding shared by both variants, built from
    * the batch operator's own hash family and band keys. */
  private def bandedKeys(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      extra: Seq[String]): DataFrame = {
    val grams = graft.functions.WordNgramsExpr
      .ngrams(col(textCol), shingleN, distinct = true)
    val extraCols = extra.map(col)
    val hashed = df.select(
        col(idCol).cast("long").as("id") +: extraCols :+
        transform(grams, g => Dedup.minhashX(g)).as("xs"): _*)
      .where(size(col("xs")) > 0) // < n words: no signature (batch parity)
    val sigCols = (0 until numHashes).map(i =>
      array_min(transform(col("xs"), x => Dedup.minhashHash(x, i)))
        .as(s"s$i"))
    hashed.select(col("id") +: extraCols ++: sigCols: _*)
      .select(col("id") +: extraCols :+
        explode(Dedup.lshBandKeys(bands, numHashes / bands)).as("bk"): _*)
      .select(col("bk.band").as("band") +: col("bk.key").as("key") +:
        col("id") +: extraCols: _*)
  }

  /** One bucket's fold over a micro-batch: the batch's ids join the
    * bucket's members in ascending id order, each new member pairing
    * with every earlier one, until the bucket holds `maxBucket`
    * members (later arrivals are dropped; a re-arriving member emits
    * nothing). Returns the new members and the emitted pairs. */
  private def admit(band: Int, prev: List[Long], ids: Seq[Long],
      maxBucket: Int): (List[Long], Iterator[CandidatePair]) = {
    val members = scala.collection.mutable.LinkedHashSet.from(prev)
    val out = List.newBuilder[CandidatePair]
    ids.sorted.foreach { id =>
      if (members.size < maxBucket && !members.contains(id)) {
        members.foreach(m =>
          out += CandidatePair(band, math.min(m, id), math.max(m, id)))
        members += id
      }
    }
    (members.toList, out.result().iterator)
  }

  /** (band, i, j) candidate pairs, i < j, emitted when the LATER
    * member arrives. Arrival order within a micro-batch is normalized
    * to id order so replays are deterministic. `shingleN`-word
    * n-grams, `numHashes` minhashes in `bands` bands — the same
    * construction (and so the same buckets) as
    * [[graft.ops.Dedup.minhashLshPairs]]. State retention: none
    * (buckets live for the life of the query) — see the class doc and
    * [[lshCandidatePairsEventTime]] for the TTL variant. */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      maxBucket: Int = 4096): Dataset[CandidatePair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = bandedKeys(df, idCol, textCol, shingleN, numHashes, bands,
        extra = Seq.empty[String])
      .as[(Int, String, Long)]
      .groupByKey(t => (t._1, t._2))
    keyed.flatMapGroupsWithState[List[Long], CandidatePair](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      case ((band, _), rows, state) =>
        val (members, out) = admit(band, state.getOption.getOrElse(Nil),
          rows.map(_._3).toSeq, maxBucket)
        state.update(members)
        out
    }
  }

  /** TTL variant of [[lshCandidatePairs]]: bucket state expires
    * `ttlMs` after the bucket's latest event time, certified by the
    * watermark on `tsCol` — the retention contract of
    * [[StreamingDedup.dedupByFingerprintEventTime]], so expiry is
    * deterministic and replayable (no wall clock). After a bucket
    * expires, its membership is forgotten: a re-arrival of an old
    * document's near-duplicate pairs only against post-expiry members
    * (and two re-arrivals re-pair with each other) — the standard
    * TTL trade: total state is bounded by buckets-active-within-TTL
    * instead of O(corpus), at the cost of missing duplicates farther
    * apart in event time than the TTL. */
  def lshCandidatePairsEventTime(
      df: DataFrame, idCol: String, textCol: String,
      tsCol: String, ttlMs: Long, watermarkDelay: String = "0 seconds",
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = 4096): Dataset[CandidatePair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket >= 2, "maxBucket must be >= 2")
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // watermark AFTER the cast: a cast would strip the event-time tag
    // if the watermark were declared first (same note as StreamingDedup)
    val withTs = df
      .withColumn("__ts", col(tsCol).cast("timestamp"))
      .withWatermark("__ts", watermarkDelay)
    val keyed = bandedKeys(withTs, idCol, textCol,
        shingleN, numHashes, bands, extra = Seq("__ts"))
      .as[(Int, String, Long, java.sql.Timestamp)]
      .groupByKey(t => (t._1, t._2))
    // state carries (members, maxSeenEventTimeMs): the timeout must be
    // anchored to the bucket's RUNNING max event time, not the current
    // batch's — a late-but-within-watermark batch carrying older
    // timestamps would otherwise overwrite a later expiry with an
    // earlier one, shortening the TTL below the documented contract.
    keyed.flatMapGroupsWithState[(List[Long], Long), CandidatePair](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case ((band, _), rows, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val (prevMembers, prevMaxTs) =
            state.getOption.getOrElse((Nil, Long.MinValue))
          val batch = rows.toSeq
          val (members, out) =
            admit(band, prevMembers, batch.map(_._3), maxBucket)
          val maxSeenTs = math.max(prevMaxTs, batch.map(_._4.getTime).max)
          state.update((members, maxSeenTs))
          // timeout must also sit at/after the current watermark (late
          // rows would otherwise schedule an already-expired timeout)
          state.setTimeoutTimestamp(
            math.max(maxSeenTs + ttlMs, state.getCurrentWatermarkMs() + 1))
          out
        }
    }
  }
}
