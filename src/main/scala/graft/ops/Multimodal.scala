package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling.
  *
  * Design: media is an opaque `binary` column plus a typed metadata
  * struct. The Spark-side plumbing — schema, partition-sized batching via
  * mapPartitions, deterministic output contract — is real and tested.
  * Image metadata is decoded for REAL by [[MediaCodec]]: magic-number
  * format sniff + PNG/JPEG/GIF/BMP header-field parsing in pure JDK byte
  * code (the imghdr/PIL role in the reference,
  * `model/summary_helpers_image.py:1-114`). Only pixel-level work
  * (resize, feature extraction) and audio/video codecs would need an
  * external library on a real cluster; frame *sampling* plumbing is
  * byte-chunk based and documented as such.
  */
object Multimodal {

  /** Metadata contract for a decoded media blob. `nFrames` counts
    * 256-byte chunks — the frame-sampling stand-in of [[sampleFrames]],
    * not a container-parsed frame count. */
  final case class MediaMeta(
      id: Long,
      byteLength: Long,
      format: String,
      width: Int,
      height: Int,
      nFrames: Int,
      truncated: Boolean)

  /** Decode one blob: real header parse for known image formats
    * (png/jpeg/gif/bmp dimensions + header-truncation flag; webp sniffed
    * but not dimension-parsed), `unknown`/`empty` pass-through with zero
    * dimensions otherwise. */
  def decodeOne(id: Long, bytes: Array[Byte]): MediaMeta = {
    val m = MediaCodec.parseImageMeta(bytes)
    MediaMeta(id, bytes.length.toLong, m.format, m.width, m.height,
      nFrames = (bytes.length / 256 + 1).toInt, truncated = m.truncated)
  }

  /** Decode a binary column into metadata via mapPartitions — one codec
    * init per PARTITION (not per row), the batch shape a real decoder
    * needs. Output is a typed Dataset with a stable schema. */
  def decodeMeta(df: DataFrame, idCol: String, binCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (expensive handle)
        it.map { case (id, bytes) =>
          decodeOne(id, Option(bytes).getOrElse(Array.empty)) }
      }
  }

  /** Per-blob EXIF fields for a decoded media blob ([[decodeExif]]). */
  final case class ExifRow(
      id: Long,
      exif_present: Boolean,
      orientation: Int,
      model: String,
      datetime_original: String,
      width: Int)

  /** EXIF extraction over a binary column — [[MediaCodec.parseExif]]'s
    * TIFF walk per blob plus the frame-header width, proving the
    * dimension parse runs THROUGH an APP1 segment. Same mapPartitions
    * batch shape as [[decodeMeta]]. */
  def decodeExif(df: DataFrame, idCol: String, binCol: String): Dataset[ExifRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val b = Option(bytes).getOrElse(Array.empty[Byte])
          val e = MediaCodec.parseExif(b)
          val m = MediaCodec.parseImageMeta(b)
          ExifRow(id, e.present, e.orientation, e.model,
            e.dateTimeOriginal, m.width)
        }
      }
  }

  /** Per-blob audio header fields ([[decodeAudio]]). */
  final case class AudioRow(
      id: Long, format: String, sample_rate: Int, channels: Int,
      bits_per_sample: Int, n_frames: Long, truncated: Boolean)

  /** Audio header decode over a binary column — WAV RIFF walk + FLAC
    * STREAMINFO ([[MediaCodec.parseAudioMeta]]): map-only, per-blob
    * pure byte walk, hostile-bytes-safe. Duration derives downstream
    * as n_frames / sample_rate (kept out of the row so the division
    * happens once, in SQL, engine-deterministically). */
  def decodeAudio(df: DataFrame, idCol: String, binCol: String): Dataset[AudioRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val m = MediaCodec.parseAudioMeta(
            Option(bytes).getOrElse(Array.empty[Byte]))
          AudioRow(id, m.format, m.sampleRate, m.channels,
            m.bitsPerSample, m.nFrames, m.truncated)
        }
      }
  }

  /** Per-blob MPEG-audio frame header fields ([[decodeMp3]]). */
  final case class Mp3Row(
      id: Long, version: String, layer: Int, bitrate_kbps: Int,
      sample_rate: Int, channels: Int, n_frames: Long, truncated: Boolean)

  /** MPEG-audio (Layer III) header decode over a binary column —
    * ID3v2 skip + first frame header + CBR frame-count estimate
    * ([[MediaCodec.parseMp3]]): map-only, per-blob pure byte walk,
    * hostile-bytes-safe. Duration derives downstream as
    * n_frames · samples_per_frame / sample_rate. */
  def decodeMp3(df: DataFrame, idCol: String, binCol: String): Dataset[Mp3Row] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val m = MediaCodec.parseMp3(
            Option(bytes).getOrElse(Array.empty[Byte]))
          Mp3Row(id, m.version, m.layer, m.bitrateKbps, m.sampleRate,
            m.channels, m.nFrames, m.truncated)
        }
      }
  }

  /** Per-blob video container fields ([[decodeVideo]]). */
  final case class VideoRow(
      id: Long, format: String, timescale: Int, duration: Long,
      n_tracks: Int, width: Int, height: Int, truncated: Boolean)

  /** Video container decode over a binary column — ISO BMFF box walk
    * ([[MediaCodec.parseVideoMeta]]): movie timescale/duration, track
    * count, first track's pixel dimensions. Map-only, per-blob pure
    * byte walk, hostile-bytes-safe; duration_s derives downstream as
    * duration / timescale (one SQL division, engine-deterministic). */
  def decodeVideo(df: DataFrame, idCol: String, binCol: String): Dataset[VideoRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val m = MediaCodec.parseVideoMeta(
            Option(bytes).getOrElse(Array.empty[Byte]))
          VideoRow(id, m.format, m.timescale, m.duration, m.nTracks,
            m.width, m.height, m.truncated)
        }
      }
  }

  /** Frame sampling: every `stride`-th 256-byte chunk as a "frame"
    * (stand-in for video keyframe extraction). Pure plumbing: explode to
    * (id, frame_idx, frame_bytes) preserving partition-local order. */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
      stride: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val b = Option(bytes).getOrElse(Array.empty)
        b.grouped(256).zipWithIndex
          .filter { case (_, i) => i % stride == 0 }
          .map { case (chunk, i) => (id, i, chunk) }
      }
      .toDF("id", "frame_idx", "frame_bytes")
  }

  /** File-level stats over a directory tree via Spark's binaryFile
    * source — the distributed answer to the reference's per-path
    * `os.stat` loop (summary_helpers.py:117-140): path, size,
    * modification time come from the datasource metadata WITHOUT reading
    * file contents (content column pruned away). */
  def fileStats(spark: SparkSession, pathGlob: String): DataFrame = {
    val files = spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("length"), col("modificationTime"))
    files.agg(
      count(lit(1)).as("n_files"),
      sum(col("length")).as("total_bytes"),
      min(col("length")).as("min_bytes"),
      max(col("length")).as("max_bytes"),
      (sum(col("length")).cast("double") / count(lit(1))).as("mean_bytes"),
      min(col("modificationTime")).as("oldest"),
      max(col("modificationTime")).as("newest"))
  }

  /** SQL-expressible blob metadata (no codec needed): byte length,
    * first-byte sniff class, chunk count. Used by the oracle-checked
    * query; `decodeMeta` is the full-fidelity path. */
  def blobMetaColumns(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val b = col(binCol)
    df.select(
      col(idCol).as("id"),
      octet_length(b).cast("long").as("byte_length"),
      (floor(octet_length(b) / lit(256.0)).cast("int") + 1).as("n_chunks"))
  }

  /** One image fingerprint row: dimensions + the 64-bit difference
    * hash ([[graft.ops.MediaCodec.dHash64]]). */
  final case class ImageHash(
      id: Long, width: Int, height: Int, dhash: Long)

  /** PIXEL-level perceptual fingerprinting of an image binary column:
    * decode (24-bpp BMP, 8-bit PNG, baseline JPEG or GIF87a/89a via
    * [[graft.ops.MediaCodec.decodeImageGray]]; hostile bytes skipped,
    * never an exception) → integer grayscale → nearest-neighbor 9×8
    * resize → 64-bit dHash. The hash depends only on PIXELS, so the
    * same image saved under any container fingerprints identically
    * (bit-exact for the lossless formats, hamming ≤ 3 for high-quality
    * JPEG) — cross-format duplicate detection for free. Map-only
    * (mapPartitions over the scan, no shuffle): the per-image step of
    * image dedup at any corpus size. Undecodable blobs are DROPPED —
    * a fingerprint of garbage would poison the near-dup banding
    * downstream. */
  def imageDHash(df: DataFrame, idCol: String,
      binCol: String): Dataset[ImageHash] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          MediaCodec.decodeImageGray(Option(bytes).getOrElse(Array.empty))
            .map(g => ImageHash(id, g.width, g.height,
              MediaCodec.dHash64(g)))
        }
      }
  }

  /** Per-clip audio quality signals ([[audioPcmStats]]). */
  final case class AudioStats(
      id: Long, sample_rate: Int, channels: Int, bits: Int,
      n_samples: Long, duration_s: Double, rms: Double, peak: Double,
      clip_frac: Double, silence_frac: Double, zcr: Double,
      rms_ch_min: Double, rms_ch_max: Double, ch_imbalance: Double)

  /** SAMPLE-level audio curation signals over a PCM WAV binary column
    * — the speech-corpus quality screen (clipped takes, dead air,
    * loudness) computed from the DECODED waveform, not the header.
    * Exact spec, replicated independently by the fixture generator
    * (scripts/gen_audio_fixture.py) so q343 certifies decode + math:
    * per interleaved raw sample s, x = s/32768 (16-bit signed) or
    * (s−128)/128 (8-bit unsigned); duration = frames/rate;
    * rms = sqrt(Σx²/n) with the sum sequential in file order (both
    * implementations accumulate the same doubles in the same order —
    * bit-identical); peak = max|x|; clip_frac counts samples AT the
    * representable rails (−32768/32767, 0/255); silence_frac counts
    * |x| < 0.01; zcr counts per-channel sign flips between consecutive
    * FRAMES (neg(s) = s<0 for 16-bit, s<128 for 8-bit) over
    * channels·(frames−1) comparisons, 0 when frames < 2; per-channel
    * rms accumulates frame-sequential per channel, rms_ch_min/max are
    * its extremes and ch_imbalance = 1 − min/max of the UNROUNDED
    * channel rms (0 when max is 0) — a dead mic on either side of a
    * stereo take reads 1.0 (q345's planted truth); every ratio rounded
    * HALF_UP at 6 dp (Spark round semantics). Map-only;
    * undecodable/non-PCM blobs are dropped. */
  def audioPcmStats(df: DataFrame, idCol: String,
      binCol: String): Dataset[AudioStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          MediaCodec.decodeWavPcm(Option(bytes).getOrElse(Array.empty))
            .map { a =>
              val (lo, hi) = if (a.bits == 16) (-32768, 32767) else (0, 255)
              val mid = if (a.bits == 16) 0 else 128
              val ch = a.channels
              var sumSq = 0.0
              var peak = 0.0
              var nClip = 0L
              var nSil = 0L
              val chSq = new Array[Double](ch)
              val prevNeg = new Array[Boolean](ch)
              var crossings = 0L
              var i = 0
              while (i < a.samples.length) {
                val s = a.samples(i)
                val x =
                  if (a.bits == 16) s / 32768.0 else (s - 128) / 128.0
                sumSq += x * x
                val ax = math.abs(x)
                if (ax > peak) peak = ax
                if (s == lo || s == hi) nClip += 1
                if (ax < 0.01) nSil += 1
                val c = i % ch
                chSq(c) += x * x
                val neg = s < mid
                if (i >= ch && neg != prevNeg(c)) crossings += 1
                prevNeg(c) = neg
                i += 1
              }
              val n = a.samples.length
              val frames = n / ch
              var mn = Double.MaxValue
              var mx = 0.0
              var c = 0
              while (c < ch) {
                val r = math.sqrt(chSq(c) / frames)
                if (r < mn) mn = r
                if (r > mx) mx = r
                c += 1
              }
              AudioStats(id, a.sampleRate, a.channels, a.bits, n.toLong,
                r6(a.frames.toDouble / a.sampleRate),
                r6(math.sqrt(sumSq / n)), r6(peak),
                r6(nClip.toDouble / n), r6(nSil.toDouble / n),
                if (frames >= 2)
                  r6(crossings.toDouble / (ch.toDouble * (frames - 1)))
                else 0.0,
                r6(mn), r6(mx),
                if (mx > 0) r6(1.0 - mn / mx) else 0.0)
            }
        }
      }
  }

  /** One sampled video frame's fingerprint ([[videoFrameDHash]]). */
  final case class VideoFrameHash(
      id: Long, frame_idx: Int, width: Int, height: Int, dhash: Long)

  /** FRAME-SAMPLE fingerprinting of a video binary column — the
    * multimodal frame-sample operator made real for the one video
    * codec the container can honestly decode: MJPEG AVI, where every
    * frame is a standalone baseline JPEG ([[MediaCodec.aviFrames]]
    * walks the RIFF container, [[MediaCodec.decodeJpegGray]] decodes
    * the sampled frames through the same seam q344 certifies). Every
    * `stride`-th frame (0, stride, 2·stride, …) is decoded to the
    * SAME luma→9×8→dHash fingerprint the image pipeline uses, so
    * video frames join the image near-dup/banding machinery directly
    * — find the video a leaked thumbnail came from, dedup re-encoded
    * clips by their sampled-frame hash sets. Frames that fail to
    * decode are dropped (their frame_idx simply absent); map-only, no
    * shuffle, the per-task cost is frames/stride JPEG decodes. */
  def videoFrameDHash(df: DataFrame, idCol: String, binCol: String,
      stride: Int = 1): Dataset[VideoFrameHash] = {
    require(stride >= 1, "stride must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          MediaCodec.aviFrames(Option(bytes).getOrElse(Array.empty))
            .iterator.zipWithIndex
            .filter(_._2 % stride == 0)
            .flatMap { case (frame, idx) =>
              MediaCodec.decodeImageGray(frame).map(g =>
                VideoFrameHash(id, idx, g.width, g.height,
                  MediaCodec.dHash64(g)))
            }
        }
      }
  }

  /** Per-clip spectral shape ([[audioSpectralStats]]). */
  final case class AudioSpectral(
      id: Long, frames_used: Int, spectral_centroid: Double,
      spectral_spread: Double, spectral_rolloff: Double,
      dominant_freq: Double, spectral_crest: Double)

  /** FREQUENCY-domain audio curation signals over a PCM WAV binary
    * column: channel-0 of the first 1024 frames (zero-padded when
    * shorter), Hann-windowed, through [[Dsp.fft]] — whose portable
    * trig and fixed butterfly order make every double BIT IDENTICAL
    * to the independent python replay (scripts/gen_audio_spectral.py),
    * so the q349 gate is exact. From the power spectrum P_k = |X_k|²,
    * k = 1..512 (DC skipped), with f_k = k·rate/1024:
    * centroid = Σf_k·P_k / ΣP_k (the spectral "center of mass" —
    * hiss-vs-rumble), spread = √(Σ(f_k−centroid)²·P_k / ΣP_k)
    * (tone vs noise width), rolloff = smallest f_k with cumulative
    * power ≥ 0.85·total, dominant = f_argmax P_k (first max wins),
    * crest = P_max/(total/512) (a pure sine reads huge, white noise
    * ≈ small). All sums sequential ascending in k; every output
    * rounded HALF_UP at 6 dp; all-zero frames (or silence) read 0
    * across the board. Map-only; undecodable blobs dropped. */
  def audioSpectralStats(df: DataFrame, idCol: String,
      binCol: String): Dataset[AudioSpectral] = {
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val N = 1024
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          MediaCodec.decodeWavPcm(Option(bytes).getOrElse(Array.empty))
            .map { a =>
              val used = math.min(a.frames.toLong, N.toLong).toInt
              val re = new Array[Double](N)
              val im = new Array[Double](N)
              var i = 0
              while (i < used) {
                val s = a.samples(i * a.channels)
                val x =
                  if (a.bits == 16) s / 32768.0 else (s - 128) / 128.0
                re(i) = x * Dsp.hann(i, N)
                i += 1
              }
              Dsp.fft(re, im)
              val half = N / 2
              val p = new Array[Double](half + 1)
              var k = 0
              while (k <= half) {
                p(k) = re(k) * re(k) + im(k) * im(k)
                k += 1
              }
              var total = 0.0
              k = 1
              while (k <= half) { total += p(k); k += 1 }
              if (total <= 0.0)
                AudioSpectral(id, used, 0.0, 0.0, 0.0, 0.0, 0.0)
              else {
                def f(kk: Int): Double =
                  kk.toDouble * a.sampleRate / N
                var wsum = 0.0
                k = 1
                while (k <= half) { wsum += f(k) * p(k); k += 1 }
                val centroid = wsum / total
                var vsum = 0.0
                k = 1
                while (k <= half) {
                  val d = f(k) - centroid
                  vsum += d * d * p(k)
                  k += 1
                }
                val spread = math.sqrt(vsum / total)
                val thr = 0.85 * total
                var cum = 0.0
                var roll = 0.0
                var kmax = 1
                k = 1
                while (k <= half) {
                  cum += p(k)
                  if (roll == 0.0 && cum >= thr) roll = f(k)
                  if (p(k) > p(kmax)) kmax = k
                  k += 1
                }
                AudioSpectral(id, used, r6(centroid), r6(spread),
                  r6(roll), r6(f(kmax)), r6(p(kmax) / (total / half)))
              }
            }
        }
      }
  }

  /** The exploded (id, h, band_idx, band_val) table both the dHash
    * pairs path and the skipped-band ledger band over — factored out
    * so the cap and the ledger count the SAME buckets. Band INDEX
    * rides along: equal values in DIFFERENT bands must not collide
    * into candidates. */
  private def dhashBands(hashes: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    hashes.select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("h"))
      .select(col("id"), col("h"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("h"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band_idx", "band_val")))

  /** Near-duplicate image pairs by dHash hamming distance ≤ maxBits,
    * without an all-pairs join: the 64-bit hash splits into FOUR
    * 16-bit bands, and two hashes within hamming ≤ 3 MUST agree on at
    * least one band (pigeonhole, the SimHash q248 scheme) — so
    * candidates come from four hash-equality self-joins, verified with
    * one xor/bit_count. maxBits above 3 would need more/narrower
    * bands; enforced loudly. Returns (i, j, hamming) with i < j, each
    * pair once.
    *
    * `maxBucket` is the DEGENERATE-BAND guard the SimHash sibling
    * (q250) carries: at corpus scale a hot band value — millions of
    * uniform/black/letterboxed images sharing band 0x0000 — makes the
    * band self-join quadratic WITHIN that bucket (B docs → B·(B−1)/2
    * candidates). (band_idx, band_val) buckets above the cap are
    * SKIPPED before the pair explosion ([[Dedup.bucketPairs]]); at
    * that size they are either giant exact-dup families (an exact
    * hash-groupBy collapses those first and cheaper) or degenerate
    * rasters. Pass `Int.MaxValue` for the exhaustive path (no guard
    * aggregate is planned, and the documented pigeonhole recall
    * contract holds verbatim). The parameter is REQUIRED — like
    * [[dhashSkippedBands]], the recall-vs-blowup tradeoff must be an
    * explicit choice at every call site; a caller that sets a finite
    * cap for corpus scale accepts the recall loss and MUST read
    * [[dhashSkippedBands]] with the same cap to make the drop
    * observable — that is the contract the q347 stress row and
    * ImageHashSpec pin. */
  def dhashNearDupPairs(hashes: DataFrame, idCol: String,
      hashCol: String, maxBits: Int,
      maxBucket: Int): DataFrame = {
    require(maxBits >= 0 && maxBits <= 3,
      s"dhashNearDupPairs: 4-band pigeonhole guarantees recall only " +
        s"to hamming 3, got maxBits=$maxBits; re-band before raising")
    Dedup.bucketPairs(dhashBands(hashes, idCol, hashCol),
        Seq("band_idx", "band_val"), maxBucket)
      .select(col("i"), col("j"),
        bit_count(col("h_i").bitwiseXOR(col("h_j"))).cast("int")
          .as("hamming"))
      .where(col("hamming") <= maxBits)
      .distinct()
  }

  /** The recall-loss ledger for [[dhashNearDupPairs]]'s degenerate-band
    * guard: the (band_idx, band_val) buckets a `maxBucket` cap SKIPS,
    * with their sizes — so the drop is observable (one giant exact-dup
    * family? a sea of black frames?) instead of invisible
    * ([[Dedup.skippedBuckets]] over the same banding as the pairs
    * path). Empty when the guard dropped nothing. */
  def dhashSkippedBands(hashes: DataFrame, idCol: String,
      hashCol: String, maxBucket: Int): DataFrame =
    Dedup.skippedBuckets(dhashBands(hashes, idCol, hashCol),
      Seq("band_idx", "band_val"), maxBucket)
}
