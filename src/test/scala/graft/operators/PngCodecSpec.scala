package graft.operators

import graft.SparkSpec

/** Exact-pixel tests for the JDK-only PNG codec: hand-crafted PNGs (filtered
  * scanlines deflated with java.util.zip.Deflater — an independent encoder
  * path from the codec's own) decoded to known RGBA, every filter type
  * exercised, hostile inputs refused, and the resize path re-sniffable. */
class PngCodecSpec extends SparkSpec {
  import ss.implicits._

  private def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes); crc.update(data)
    be32(data.length) ++ typ.getBytes ++ data ++ be32(crc.getValue.toInt)
  }

  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** PNG from already-FILTERED scanlines (each row: filter byte + data). */
  private def png(w: Int, h: Int, colorType: Int, scanlines: Array[Byte],
                  palette: Array[Byte] = null, bitDepth: Int = 8,
                  interlace: Int = 0): Array[Byte] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val ihdr = chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](bitDepth.toByte, colorType.toByte, 0, 0, interlace.toByte))
    val plte = if (palette != null) chunk("PLTE", palette) else Array.emptyByteArray
    sig ++ ihdr ++ plte ++ chunk("IDAT", zlib(scanlines)) ++ chunk("IEND", Array.emptyByteArray)
  }

  test("RGB decode reconstructs Sub and Up filtered rows to exact pixels") {
    // 3x2 RGB: row0 Sub-filtered, row1 Up-filtered
    val rows = Array[Byte](
      1, 10, 20, 30, 1, 1, 1, 2, 2, 2, // Sub: (10,20,30) (11,21,31) (13,23,33)
      2, 5, 5, 5, 0, 0, 0, 0, 0, 0)    // Up:  (15,25,35) (11,21,31) (13,23,33)
    val img = PngCodec.decode(png(3, 2, 2, rows)).get
    assert(img.width == 3 && img.height == 2 && !img.hasAlpha)
    val px = img.rgba.grouped(4).map(p => (p(0) & 0xff, p(1) & 0xff, p(2) & 0xff, p(3) & 0xff)).toSeq
    assert(px == Seq(
      (10, 20, 30, 255), (11, 21, 31, 255), (13, 23, 33, 255),
      (15, 25, 35, 255), (11, 21, 31, 255), (13, 23, 33, 255)))
  }

  test("gray decode reconstructs Average and Paeth filtered rows") {
    // 2x2 grayscale: row0 Average (no prev row), row1 Paeth
    val rows = Array[Byte](
      3, 100.toByte, 50, // Avg:   100, 50+100/2=100
      4, 10, 5)          // Paeth: 10+pred(0,100,0)=110, 5+pred(110,100,100)=115
    val img = PngCodec.decode(png(2, 2, 0, rows)).get
    val g = img.rgba.grouped(4).map(_(0) & 0xff).toSeq
    assert(g == Seq(100, 100, 110, 115))
    // gray expands to r=g=b, opaque
    assert(img.rgba.grouped(4).forall(p => p(0) == p(1) && p(1) == p(2) && (p(3) & 0xff) == 255))
  }

  test("palette and gray+alpha and RGBA color types decode") {
    val pal = Array[Byte](10, 20, 30, 40, 50, 60) // 2 entries
    val ct3 = PngCodec.decode(png(2, 1, 3, Array[Byte](0, 1, 0), pal)).get
    assert(ct3.rgba.toSeq == Seq[Byte](40, 50, 60, -1, 10, 20, 30, -1))
    val ct4 = PngCodec.decode(png(1, 1, 4, Array[Byte](0, 77, 128.toByte))).get
    assert(ct4.hasAlpha && ct4.rgba.toSeq == Seq[Byte](77, 77, 77, 128.toByte))
    val ct6 = PngCodec.decode(png(1, 1, 6, Array[Byte](0, 1, 2, 3, 4))).get
    assert(ct6.hasAlpha && ct6.rgba.toSeq == Seq[Byte](1, 2, 3, 4))
  }

  test("malformed and out-of-scope streams return None, never throw") {
    val good = png(2, 1, 2, Array[Byte](0, 1, 2, 3, 4, 5, 6))
    assert(PngCodec.decode(good).isDefined)
    assert(PngCodec.decode(null).isEmpty)
    assert(PngCodec.decode("nonsense".getBytes).isEmpty)
    assert(PngCodec.decode(good.take(30)).isEmpty)                      // truncated mid-chunk
    assert(PngCodec.decode(png(2, 1, 2, Array[Byte](0, 1, 2), bitDepth = 16)).isEmpty)
    assert(PngCodec.decode(png(2, 1, 2, Array[Byte](0, 1, 2, 3, 4, 5, 6), interlace = 1)).isEmpty)
    assert(PngCodec.decode(png(2, 1, 2, Array[Byte](9, 1, 2, 3, 4, 5, 6))).isEmpty) // bad filter
    assert(PngCodec.decode(png(2, 1, 3, Array[Byte](0, 5, 0), Array[Byte](1, 2, 3))).isEmpty) // palette overrun
    // short IDAT: fewer scanline bytes than h*(1+stride)
    assert(PngCodec.decode(png(4, 4, 2, Array[Byte](0, 1, 2))).isEmpty)
    // hostile IHDR: a dimension pair whose product exceeds the pixel cap
    assert(PngCodec.decode(png(1 << 16, 1 << 16, 2, Array[Byte](0, 1, 2))).isEmpty)
  }

  test("encode round-trips pixels and the resized payload re-sniffs with target dims") {
    graft.plans.GraftExtensions.register(ss)
    // 4x2 RGB gradient, decode(encode(x)) == x
    val src = PngCodec.Image(4, 2, hasAlpha = false,
      Array.tabulate(4 * 2 * 4)(i => if (i % 4 == 3) -1 else (i * 3).toByte))
    val back = PngCodec.decode(PngCodec.encode(src)).get
    assert(back.width == 4 && back.height == 2 && !back.hasAlpha)
    assert(back.rgba.sameElements(src.rgba))
    // alpha round trip keeps color type 6
    val srcA = PngCodec.Image(2, 1, hasAlpha = true, Array[Byte](9, 8, 7, 100, 1, 2, 3, 50))
    assert(PngCodec.decode(PngCodec.encode(srcA)).get.rgba.sameElements(srcA.rgba))
    // nearest-neighbor resize picks columns 0 and 2 (same rule as resizeBmp)
    val resized = PngCodec.resizeNearest(src, 2, 1)
    assert(resized.rgba.grouped(4).map(_(0)).toSeq == Seq(src.rgba(0), src.rgba(8)))
    // re-sniff of the re-encoded payload: png with target dimensions
    val m = graft.plans.ImageMeta.compute(PngCodec.encode(resized))
    assert(m != null && m.getUTF8String(0).toString == "png" &&
      m.getInt(1) == 2 && m.getInt(2) == 1)
  }

  test("resizeMedia resizes real PNGs in the frame API; codec-bound formats pass through") {
    val rows = Array[Byte](
      0, 10, 20, 30, 40, 50, 60, 70, 80, 90, // unfiltered 3x2 RGB
      0, 11, 21, 31, 41, 51, 61, 71, 81, 91)
    val pngBytes = png(3, 2, 2, rows)
    val jpegish = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) ++ Array.fill[Byte](30)(1)
    val df = Seq((1L, pngBytes), (2L, jpegish)).toDF("media_id", "media")
    val out = Multimodal.resizeMedia(df, 2, 2)
      .collect().map(r => r.getLong(0) -> (r.getAs[Array[Byte]]("media"), r.getBoolean(2))).toMap
    assert(out(1L)._2, "PNG payload must take the real resize path")
    val resized = PngCodec.decode(out(1L)._1).get
    assert(resized.width == 2 && resized.height == 2)
    // columns 0,1 of rows 0,1 survive (3->2, 2->2 nearest mapping: sx=0,1 sy=0,1)
    val reds = resized.rgba.grouped(4).map(_(0) & 0xff).toSeq
    assert(reds == Seq(10, 40, 11, 41))
    assert(!out(2L)._2 && out(2L)._1.sameElements(jpegish))
  }

  test("extractFeatures computes real band luminance for PNG, stub elsewhere") {
    // 2x4 RGB: top 2 rows (60,120,180) -> 360/765; bottom 2 rows (0,0,0) -> 0
    val bright = Array[Byte](60, 120.toByte, 180.toByte)
    val rows = (0 until 4).flatMap { y =>
      0.toByte +: (0 until 2).flatMap(_ => if (y < 2) bright.toSeq else Seq[Byte](0, 0, 0))
    }.toArray
    val pngBytes = png(2, 4, 2, rows)
    val df = Seq((1L, pngBytes), (2L, "no codec for this".getBytes)).toDF("media_id", "media")
    val feats = Multimodal.extractFeatures(df, dim = 2)
      .collect().map(f => f.media_id -> f).toMap
    val expected = 360f / 765f
    assert(feats(1L).features.length == 2)
    assert(math.abs(feats(1L).features(0) - expected) < 1e-6f)
    assert(feats(1L).features(1) == 0f)
    // non-decodable payloads keep the labeled stub (checksum-derived)
    assert(feats(2L).features.sameElements(
      Multimodal.decodeStub(2L, "no codec for this".getBytes, 2).features))
    // batched and row-at-a-time paths agree on the real decode
    val batched = Multimodal.extractFeaturesBatched(df, dim = 2, batchSize = 1)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(batched(1L) == feats(1L).features.toSeq)
  }
}
