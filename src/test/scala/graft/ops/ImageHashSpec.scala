package graft.ops

import graft.SparkSpec

/** Pixel-level BMP decode + dHash + banded near-dup. The committed
  * fixture (scripts/gen_image_fixture.py) certifies the happy path
  * end-to-end against independently-computed hashes; this spec pins
  * the decoder's edge cases and the pigeonhole recall guarantee. */
class ImageHashSpec extends SparkSpec {
  import spark.implicits._

  /** Hand-rolled 24-bpp BMP (same layout the fixture generator
    * writes), with a top-down option via negative height. */
  private def bmp(px: Seq[Seq[(Int, Int, Int)]],
      topDown: Boolean = false): Array[Byte] = {
    val h = px.length
    val w = px.head.length
    val rowSize = (w * 3 + 3) / 4 * 4
    val out = java.nio.ByteBuffer.allocate(54 + rowSize * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(54 + rowSize * h).putInt(0).putInt(54)
    out.putInt(40).putInt(w).putInt(if (topDown) -h else h)
    out.putShort(1).putShort(24)
    out.putInt(0).putInt(rowSize * h).putInt(2835).putInt(2835)
    out.putInt(0).putInt(0)
    val rows = if (topDown) px else px.reverse
    rows.foreach { row =>
      var written = 0
      row.foreach { case (r, g, b) =>
        out.put(b.toByte).put(g.toByte).put(r.toByte); written += 3
      }
      (written until rowSize).foreach(_ => out.put(0.toByte))
    }
    out.array()
  }

  private val grid: Seq[Seq[(Int, Int, Int)]] =
    (0 until 16).map(y => (0 until 18).map(x =>
      ((x * 14) % 256, (y * 16) % 256, ((x + y) * 7) % 256)))

  test("decodeBmpGray: bottom-up and top-down decode to the same raster") {
    val up = MediaCodec.decodeBmpGray(bmp(grid)).get
    val down = MediaCodec.decodeBmpGray(bmp(grid, topDown = true)).get
    assert(up.width === 18 && up.height === 16)
    assert(up.gray.toSeq === down.gray.toSeq)
    // spot-check the luma formula at (x=3, y=2): integer floor
    val (r, g, b) = grid(2)(3)
    assert(up.gray(2 * 18 + 3) === (299 * r + 587 * g + 114 * b) / 1000)
  }

  test("decodeBmpGray: hostile bytes return None, never throw") {
    assert(MediaCodec.decodeBmpGray(Array.empty[Byte]).isEmpty)
    assert(MediaCodec.decodeBmpGray("not a bmp at all".getBytes).isEmpty)
    val truncated = bmp(grid).take(60) // header ok, pixels missing
    assert(MediaCodec.decodeBmpGray(truncated).isEmpty)
    val eightBpp = bmp(grid).clone; eightBpp(28) = 8 // bpp != 24
    assert(MediaCodec.decodeBmpGray(eightBpp).isEmpty)
    val rle = bmp(grid).clone; rle(30) = 1 // compression != BI_RGB
    assert(MediaCodec.decodeBmpGray(rle).isEmpty)
    val huge = bmp(grid).clone // hostile width: 2^20
    java.nio.ByteBuffer.wrap(huge).order(
      java.nio.ByteOrder.LITTLE_ENDIAN).putInt(18, 1 << 20)
    assert(MediaCodec.decodeBmpGray(huge).isEmpty)
  }

  test("dHash64: a few flipped pixels move few bits; inversion moves many") {
    val base = MediaCodec.decodeBmpGray(bmp(grid)).get
    val h0 = MediaCodec.dHash64(base)
    val tweaked = grid.zipWithIndex.map { case (row, y) =>
      row.zipWithIndex.map { case (p, x) =>
        if (x == 5 && y == 5) (255, 255, 255) else p } }
    val h1 = MediaCodec.dHash64(MediaCodec.decodeBmpGray(bmp(tweaked)).get)
    val inverted = grid.map(_.map { case (r, g, b) =>
      (255 - r, 255 - g, 255 - b) })
    val h2 = MediaCodec.dHash64(MediaCodec.decodeBmpGray(bmp(inverted)).get)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h0, h1) <= 3, s"one-pixel edit moved ${ham(h0, h1)} bits")
    assert(ham(h0, h2) >= 20, s"inversion moved only ${ham(h0, h2)} bits")
  }

  test("imageDHash drops undecodable blobs; plan is map-only") {
    val df = Seq(
      (1L, bmp(grid)),
      (2L, "garbage".getBytes),
      (3L, bmp(grid, topDown = true))).toDF("id", "blob")
    val out = Multimodal.imageDHash(df, "id", "blob")
    val rows = out.collect()
    assert(rows.map(_.id).sorted.toSeq === Seq(1L, 3L))
    assert(rows.map(_.dhash).distinct.length === 1) // same raster
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  /** Minimal PNG writer (filter 0 rows only — the committed fixture's
    * PNGs exercise filters 1-4; this pins structural edge cases). */
  private def png(px: Seq[Seq[(Int, Int, Int)]], colorType: Int = 2,
      bitDepth: Int = 8, interlace: Int = 0): Array[Byte] = {
    val h = px.length
    val w = px.head.length
    val channels = colorType match { case 0 => 1; case 2 => 3; case 6 => 4 }
    val raw = new java.io.ByteArrayOutputStream()
    px.foreach { row =>
      raw.write(0) // filter none
      row.foreach { case (r, g, b) =>
        if (colorType == 0) raw.write(r)
        else { raw.write(r); raw.write(g); raw.write(b)
          if (colorType == 6) raw.write(128) }
      }
    }
    assert(raw.size == h * (1 + w * channels))
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw.toByteArray); deflater.finish()
    val comp = new Array[Byte](raw.size + 64)
    val n = deflater.deflate(comp)
    deflater.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(bitDepth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(interlace.toByte).array()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("IDAT", comp.take(n)))
    out.write(chunk("IEND", Array.empty))
    out.toByteArray
  }

  test("decodePngGray: same raster as the BMP of the same pixels") {
    val fromBmp = MediaCodec.decodeBmpGray(bmp(grid)).get
    val fromPng = MediaCodec.decodeImageGray(png(grid)).get
    assert(fromPng.width === fromBmp.width)
    assert(fromPng.gray.toSeq === fromBmp.gray.toSeq,
      "PNG and BMP of the same pixels must fingerprint identically")
    // RGBA: alpha ignored
    val rgba = MediaCodec.decodePngGray(png(grid, colorType = 6)).get
    assert(rgba.gray.toSeq === fromBmp.gray.toSeq)
    // gray (r=g=b required): luma of (v,v,v) is v
    val gpx = grid.map(_.map { case (r, _, _) => (r, r, r) })
    val g = MediaCodec.decodePngGray(png(gpx, colorType = 0)).get
    assert(g.gray.toSeq === gpx.flatten.map(_._1).toSeq)
  }

  test("decodePngGray: unsupported shapes return None, never throw") {
    assert(MediaCodec.decodePngGray(png(grid, bitDepth = 16)).isEmpty)
    assert(MediaCodec.decodePngGray(png(grid, interlace = 1)).isEmpty)
    val palette = png(grid).clone; palette(25) = 3 // color type 3
    assert(MediaCodec.decodePngGray(palette).isEmpty)
    assert(MediaCodec.decodePngGray(png(grid).take(50)).isEmpty)
    val corrupt = png(grid).clone
    corrupt(60) = (corrupt(60) ^ 0x55).toByte // garbage inside IDAT
    // either decodes-to-something or None; must not throw
    MediaCodec.decodePngGray(corrupt)
  }

  /** Hand-built PNG with an arbitrary IDAT payload (valid chunk CRCs,
    * structurally well-formed) for zlib-level hostile-stream cases. */
  private def pngWithIdat(w: Int, h: Int, colorType: Int,
      idat: Array[Byte]): Array[Byte] = {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("IDAT", idat))
    out.write(chunk("IEND", Array.empty))
    out.toByteArray
  }

  test("decodePngGray: FDICT zlib stream returns None, never hangs") {
    // ADVICE r11 (medium): a zlib header with FDICT set (0x78 0xF9)
    // makes Inflater.inflate() return 0 with needsDictionary()=true,
    // needsInput()=false, finished()=false — the old loop (which only
    // bailed on needsInput) spun forever on an executor task. Any
    // no-progress inflate must bail.
    val fdict = pngWithIdat(4, 4, 2, Array(0x78.toByte, 0xF9.toByte))
    val t0 = System.nanoTime()
    assert(MediaCodec.decodePngGray(fdict).isEmpty)
    assert((System.nanoTime() - t0) < 5e9, "FDICT decode took >5s")
  }

  test("decodePngGray: implausible raster/payload ratio rejected " +
      "before allocation") {
    // ADVICE r11 (low): a ~100-byte hostile PNG declaring 16384x16384
    // RGBA forced a ~1.07 GiB transient allocation per blob before any
    // IDAT validation. DEFLATE expands at most ~1032:1, so a raster the
    // payload cannot plausibly fill must be rejected pre-allocation.
    val tiny = pngWithIdat(16384, 16384, 6,
      Array(0x78.toByte, 0x9C.toByte, 0x03, 0x00, 0x00, 0x00, 0x00, 0x01))
    assert(MediaCodec.decodePngGray(tiny).isEmpty)
    // sanity: a LEGITIMATE small image still decodes (the bound must
    // not reject real streams, whose expansion is far below 1032x)
    assert(MediaCodec.decodePngGray(png(grid)).isDefined)
  }

  test("decodeJpegGray: JDK round-trip decodes; luma exact for gray; " +
      "hostile bytes return None") {
    // encode a gray raster as JPEG in memory (JDK writer), decode
    // through the dispatch entry point
    val w = 36; val h = 24
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 6 + y * 3) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val bytes = bos.toByteArray
    assert((bytes(0) & 0xff) === 0xff && (bytes(1) & 0xff) === 0xd8)
    val dec = MediaCodec.decodeImageGray(bytes).get
    assert(dec.width === w && dec.height === h)
    // smooth gradient at default quality: every luma within DCT noise
    var maxErr = 0
    for (y <- 0 until h; x <- 0 until w) {
      val want = (x * 6 + y * 3) % 256
      // wrap point of the %256 sawtooth rings; skip the 2 columns around it
      if (x * 6 + y * 3 < 250)
        maxErr = math.max(maxErr, math.abs(dec.gray(y * w + x) - want))
    }
    assert(maxErr <= 16, s"smooth-region luma error $maxErr > 16")
    // hostile: truncation mid-stream, garbage after magic, empty
    assert(MediaCodec.decodeJpegGray(bytes.take(20)).isEmpty)
    assert(MediaCodec.decodeJpegGray(
      Array(0xff, 0xd8, 0xff, 0x00, 0x13, 0x37).map(_.toByte)).isEmpty)
    assert(MediaCodec.decodeJpegGray(Array.empty[Byte]).isEmpty)
    // non-JPEG magic is not this decoder's problem: None, fast
    assert(MediaCodec.decodeJpegGray(png(grid)).isEmpty)
  }

  test("decodeGifGray: committed fixture decodes pixel-identical to its " +
      "BMP twin (lossless palette re-encode + de-interlace)") {
    val gif = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/graft/sources/images_gif/img_400.gif"))
    val fromGif = MediaCodec.decodeImageGray(gif).get
    val bmpBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/test/resources/graft/sources/images/img_000.bmp"))
    val fromBmp = MediaCodec.decodeBmpGray(bmpBytes).get
    assert(fromGif.width === fromBmp.width)
    assert(fromGif.gray.toSeq === fromBmp.gray.toSeq,
      "GIF of the same luma must decode pixel-identical")
    assert(MediaCodec.dHash64(fromGif) === MediaCodec.dHash64(fromBmp))
  }

  test("decodeGifGray: hostile bytes return None, never throw") {
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/graft/sources/images_gif/img_401.gif"))
    assert(MediaCodec.decodeGifGray(Array.empty[Byte]).isEmpty)
    assert(MediaCodec.decodeGifGray("GIF89a".getBytes).isEmpty)
    assert(MediaCodec.decodeGifGray(good.take(40)).isEmpty)     // mid-palette
    assert(MediaCodec.decodeGifGray(good.take(800)).isEmpty)    // mid-LZW
    val hugeW = good.clone // hostile logical-screen width 2^15
    hugeW(6) = 0; hugeW(7) = 0x80.toByte
    assert(MediaCodec.decodeGifGray(hugeW).isEmpty)
    val junkLzw = good.clone // corrupt the LZW stream body
    var i = good.length / 2
    while (i < good.length / 2 + 64) { junkLzw(i) = 0x5A; i += 1 }
    MediaCodec.decodeGifGray(junkLzw) // None or decoded; must not throw
    // truncated AT a sub-block boundary mid-image: exhausts early
    assert(MediaCodec.decodeGifGray(good.dropRight(20)).isEmpty)
  }

  test("decodeGifGray: hand-built non-interlaced GIF with the KwKwK " +
      "LZW case decodes exactly") {
    // 2x2 image, palette {0 -> black, 1 -> white}, pixels 1,1,1,1:
    // encoder emits clear, 1, then code 6 (= "11", defined by that very
    // step — the KwKwK case), then 1, then EOI. minCodeSize 2:
    // clear=4 eoi=5. Widths: the dictionary reaches 8 entries after
    // "111" is added, so the FINAL code (EOI) is read at 4 bits.
    val codes = Seq((4, 3), (1, 3), (6, 3), (1, 3), (5, 4))
    var acc = 0L; var nb = 0
    codes.foreach { case (c, w) => acc |= c.toLong << nb; nb += w }
    val lzw = (0 until (nb + 7) / 8).map(i => ((acc >> (8 * i)) & 0xff).toByte)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes)
    out.write(Array[Byte](2, 0, 2, 0))               // screen 2x2
    out.write(Array[Byte](0x80.toByte, 0, 0))        // GCT of 2, bg, aspect
    out.write(Array[Byte](0, 0, 0, -1, -1, -1))      // palette: black, white
    out.write(Array[Byte](0x2c, 0, 0, 0, 0, 2, 0, 2, 0, 0)) // descriptor
    out.write(2)                                     // min code size
    out.write(lzw.length); out.write(lzw.toArray); out.write(0) // sub-block
    out.write(0x3b)                                  // trailer
    val g = MediaCodec.decodeGifGray(out.toByteArray)
    assert(g.isDefined, "KwKwK stream must decode")
    assert(g.get.gray.toSeq === Seq(255, 255, 255, 255))
  }

  test("decodeTiffGray: committed fixture decodes pixel-identical to " +
      "its BMP twin; hostile bytes return None") {
    val tif = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/graft/sources/images_tiff/img_600.tiff"))
    val fromTif = MediaCodec.decodeImageGray(tif).get
    val bmpBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("src/test/resources/graft/sources/images/img_000.bmp"))
    val fromBmp = MediaCodec.decodeBmpGray(bmpBytes).get
    assert(fromTif.gray.toSeq === fromBmp.gray.toSeq,
      "TIFF of the same luma must decode pixel-identical")
    assert(MediaCodec.dHash64(fromTif) === MediaCodec.dHash64(fromBmp))
    assert(MediaCodec.decodeTiffGray(Array.empty[Byte]).isEmpty)
    assert(MediaCodec.decodeTiffGray("II*x not tiff".getBytes).isEmpty)
    assert(MediaCodec.decodeTiffGray(tif.take(40)).isEmpty)
  }

  test("aviFrames: hand-built RIFF walk returns payloads in order; " +
      "hostile bytes return empty, never throw") {
    def ch(cc: String, p: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(cc.getBytes)
      out.write(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(p.length).array())
      out.write(p)
      if (p.length % 2 == 1) out.write(0)
      out.toByteArray
    }
    def lst(t: String, p: Array[Byte]): Array[Byte] =
      ch("LIST", t.getBytes ++ p)
    val movi = lst("movi",
      ch("00dc", Array[Byte](1, 2, 3)) ++
        ch("01dc", Array[Byte](4, 5)) ++
        ch("00db", Array[Byte](6)))
    val body = "AVI ".getBytes ++ lst("hdrl", Array[Byte](0, 0, 0, 0)) ++ movi
    val avi = ch("RIFF", body)
    val frames = MediaCodec.aviFrames(avi)
    assert(frames.map(_.toSeq) === Seq(Seq[Byte](1, 2, 3), Seq[Byte](4, 5),
      Seq[Byte](6)))
    // 'rec ' grouping LIST nests one level down
    val rec = lst("movi", lst("rec ", ch("00dc", Array[Byte](9, 9))))
    val avi2 = ch("RIFF", "AVI ".getBytes ++ rec)
    assert(MediaCodec.aviFrames(avi2).map(_.toSeq) === Seq(Seq[Byte](9, 9)))
    // hostile
    assert(MediaCodec.aviFrames(Array.empty[Byte]).isEmpty)
    assert(MediaCodec.aviFrames("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(MediaCodec.aviFrames(avi.take(30)).isEmpty)
    val badSize = avi.clone // chunk size pointing past the buffer
    java.nio.ByteBuffer.wrap(badSize).order(
      java.nio.ByteOrder.LITTLE_ENDIAN).putInt(16, Int.MaxValue)
    MediaCodec.aviFrames(badSize) // must not throw
  }

  test("dhashNearDupPairs: pigeonhole recall is exhaustive to hamming 3") {
    // adversarial hashes: bit flips CONCENTRATED in one band (the case
    // a sloppy single-band scheme misses) plus cross-band flips
    val base = 0x0123456789ABCDEFL
    val hs = Seq(
      0L -> base,
      1L -> (base ^ 0x7L),                  // 3 flips, band 0
      2L -> (base ^ (1L << 17) ^ (1L << 33) ^ (1L << 49)), // 3 bands
      3L -> (base ^ 0xFFL),                 // 8 flips: NOT a pair
      4L -> base)                           // exact dup
      .toDF("id", "h")
    val got = Multimodal.dhashNearDupPairs(hs, "id", "h", 3, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(p => (p._1, p._2))
    assert(got.toSeq === Seq((0L, 1L, 3), (0L, 2L, 3), (0L, 4L, 0),
      (1L, 4L, 3), (2L, 4L, 3)))
    val e = intercept[IllegalArgumentException] {
      Multimodal.dhashNearDupPairs(hs, "id", "h", 4, Int.MaxValue)
    }
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
  }

  test("dhashNearDupPairs: hot-band bucket capped, ledger shows it, " +
      "recall elsewhere unchanged") {
    // VERDICT r11 #3: a hot band value (millions of uniform/black
    // images sharing band 0x0000) makes the band self-join quadratic
    // within that bucket. Planted fixture: 300 hashes all sharing
    // band 0 = 0x0000 but pairwise-distant elsewhere (id spread across
    // the upper 48 bits — no two within hamming 3), plus one genuine
    // near-dup pair whose agreement lives in band 3 only.
    val hot = (0 until 300).map { i =>
      // 16 distinct upper bits per doc: hamming(i, j) >= 8 for i != j
      (i.toLong, ((i.toLong * 0x9E3779B97F4A7C15L) | 0xFL) << 16)
    }
    val nearA = 9001L -> 0x7777000012345678L
    val nearB = 9002L -> 0x7777000012345679L // 1 flip, band 3 agrees
    val hs = (hot :+ nearA :+ nearB).toDF("id", "h")
    // cap 50 << 300: the hot band-0 bucket must be skipped, visibly
    val ledger = Multimodal.dhashSkippedBands(hs, "id", "h", maxBucket = 50)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(ledger.nonEmpty, "hot band not ledgered")
    assert(ledger.exists { case (_, _, sz) => sz >= 300L },
      s"expected the >=300-doc hot bucket in the ledger: ${ledger.toSeq}")
    val pairs = Multimodal.dhashNearDupPairs(hs, "id", "h", 3,
        maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the genuine pair (band-3 agreement, small bucket) SURVIVES the cap
    assert(pairs.toSeq === Seq((9001L, 9002L, 1)),
      s"recall through non-degenerate bands changed: ${pairs.toSeq}")
    // and the default cap (4096) leaves the small fixture untouched
    val uncapped = Multimodal.dhashNearDupPairs(hs, "id", "h", 3, Int.MaxValue)
      .collect()
    assert(uncapped.length === 1)
  }
}
