package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Mp4Codec]] + `graft_video_meta` against hand-crafted ISO BMFF files
  * (no video tooling exists in this environment; the builder below writes
  * the public box layout independently of the parser: ftyp/mvhd/trak/
  * tkhd/hdlr/stsd/stsz/stsc/stco/stss and mdat payloads at computed
  * absolute offsets). */
class Mp4CodecSpec extends SparkSpec {

  private def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def cat(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    cat(be32(payload.length + 8L), fourcc(tpe), payload)
  private def fullbox(tpe: String, version: Int, payload: Array[Byte]): Array[Byte] =
    box(tpe, cat(Array(version.toByte, 0, 0, 0), payload))

  private val ftyp = box("ftyp", cat(fourcc("isom"), be32(0), fourcc("isom"))) // 20 bytes

  private def mvhd(timescale: Long, duration: Long) =
    fullbox("mvhd", 0, cat(be32(0), be32(0), be32(timescale), be32(duration), be32(0x00010000L)))

  private def tkhd(w: Int, h: Int) = fullbox("tkhd", 0, cat(
    Array.fill[Byte](20)(0),      // creation/mod/trackId/reserved/duration
    Array.fill[Byte](52)(0),      // reserved/layer/altgroup/volume/matrix
    be32(w.toLong << 16), be32(h.toLong << 16)))

  private def hdlr(handler: String) =
    fullbox("hdlr", 0, cat(be32(0), fourcc(handler), Array.fill[Byte](13)(0)))

  private def stsd(codec: String) =
    fullbox("stsd", 0, cat(be32(1), be32(16), fourcc(codec), Array.fill[Byte](8)(0)))

  private def stsz(sizes: Seq[Int], uniform: Int = 0, count: Int = -1) =
    fullbox("stsz", 0, cat(be32(uniform.toLong),
      be32(if (count >= 0) count.toLong else sizes.length.toLong),
      cat(sizes.map(s => be32(s.toLong)): _*)))

  private def stsc(runs: Seq[(Int, Int)]) =
    fullbox("stsc", 0, cat(be32(runs.length.toLong),
      cat(runs.map { case (fc, spc) => cat(be32(fc.toLong), be32(spc.toLong), be32(1)) }: _*)))

  private def stco(offsets: Seq[Long]) =
    fullbox("stco", 0, cat(be32(offsets.length.toLong), cat(offsets.map(be32): _*)))

  private def stss(samples: Seq[Int]) =
    fullbox("stss", 0, cat(be32(samples.length.toLong), cat(samples.map(s => be32(s.toLong)): _*)))

  private def trak(handler: String, w: Int, h: Int, stblBoxes: Array[Byte]*) =
    box("trak", cat(tkhd(w, h),
      box("mdia", cat(hdlr(handler), box("minf", box("stbl", cat(stblBoxes: _*)))))))

  /** Three frames "AA"/"BBB"/"CCCC": chunk 1 holds samples 1-2, chunk 2
    * holds sample 3; samples 1 and 3 are keyframes. */
  private def sampleMp4(withStss: Boolean = true, uniform: Boolean = false): Array[Byte] = {
    val frames = if (uniform) Seq("XX", "YY", "ZZ") else Seq("AA", "BBB", "CCCC")
    val mdatPayload = frames.mkString.getBytes("US-ASCII")
    val mdat = box("mdat", mdatPayload)
    val base = ftyp.length + 8 // first frame's absolute offset
    val offsets = Seq(base.toLong, base.toLong + frames(0).length + frames(1).length)
    val stbl = Seq(
      stsd("avc1"),
      if (uniform) stsz(Nil, uniform = 2, count = frames.length) else stsz(frames.map(_.length)),
      stsc(Seq((1, 2), (2, 1))),
      stco(offsets)) ++ (if (withStss) Seq(stss(Seq(1, 3))) else Nil)
    val moov = box("moov", cat(mvhd(1000, 5000), trak("vide", 640, 360, stbl: _*)))
    cat(ftyp, mdat, moov)
  }

  test("videoInfo reads codec, dimensions, duration, and frame count") {
    val info = Mp4Codec.videoInfo(sampleMp4()).get
    assert(info == Mp4Codec.VideoInfo("avc1", 640, 360, 5000, 3))
  }

  test("frames map every sample to its exact byte range with keyframe flags") {
    val b = sampleMp4()
    val fs = Mp4Codec.frames(b).get
    def bytes(f: Mp4Codec.FrameRef) =
      new String(b.slice(f.offset.toInt, (f.offset + f.size).toInt), "US-ASCII")
    assert(fs.map(bytes) == Seq("AA", "BBB", "CCCC"))
    assert(fs.map(_.isKey) == Seq(true, false, true))
    assert(fs.map(_.idx) == Seq(0, 1, 2))
  }

  test("missing stss means every sample is a sync sample; uniform stsz works") {
    val fs = Mp4Codec.frames(sampleMp4(withStss = false, uniform = true)).get
    assert(fs.map(_.isKey).forall(identity))
    assert(fs.map(_.size).forall(_ == 2))
  }

  test("moov-before-mdat ordering parses identically") {
    // rebuild with moov first: frame offsets shift by the moov length
    val frames = Seq("AA", "BBB", "CCCC")
    val stblOf = { offsets: Seq[Long] =>
      Seq(stsd("avc1"), stsz(frames.map(_.length)), stsc(Seq((1, 2), (2, 1))),
        stco(offsets), stss(Seq(1, 3))) }
    // two-pass: size moov with dummy offsets, then rebuild with real ones
    val dummy = box("moov", cat(mvhd(1000, 5000), trak("vide", 640, 360, stblOf(Seq(0L, 0L)): _*)))
    val base = ftyp.length + dummy.length + 8
    val moov = box("moov", cat(mvhd(1000, 5000),
      trak("vide", 640, 360, stblOf(Seq(base.toLong, base.toLong + 5)): _*)))
    val b = cat(ftyp, moov, box("mdat", frames.mkString.getBytes("US-ASCII")))
    val fs = Mp4Codec.frames(b).get
    assert(fs.map(f => new String(b.slice(f.offset.toInt, (f.offset + f.size).toInt))) ==
      Seq("AA", "BBB", "CCCC"))
  }

  test("version-1 mvhd (64-bit duration) parses; a short v1 box is skipped, not fatal") {
    val mvhdV1 = fullbox("mvhd", 1, cat(Array.fill[Byte](16)(0), // creation+modification (8+8)
      be32(1000), be32(0), be32(7500))) // timescale, duration hi=0 lo=7500
    val frames = Seq("AA", "BBB", "CCCC")
    val mdat = box("mdat", frames.mkString.getBytes("US-ASCII"))
    val base = ftyp.length + 8
    val stbl = Seq(stsd("avc1"), stsz(frames.map(_.length)), stsc(Seq((1, 2), (2, 1))),
      stco(Seq(base.toLong, base.toLong + 5)), stss(Seq(1, 3)))
    val moov = box("moov", cat(mvhdV1, trak("vide", 640, 360, stbl: _*)))
    val info = Mp4Codec.videoInfo(cat(ftyp, mdat, moov)).get
    assert(info.durationMs == 7500L && info.nFrames == 3)
    // v1 mvhd truncated below the 32-byte payload: duration unread (0),
    // but the sample tables still parse — no AIOOBE aborting the file
    val shortMvhd = fullbox("mvhd", 1, Array.fill[Byte](20)(0))
    val moov2 = box("moov", cat(shortMvhd, trak("vide", 640, 360, stbl: _*)))
    val info2 = Mp4Codec.videoInfo(cat(ftyp, mdat, moov2)).get
    assert(info2.durationMs == 0L && info2.nFrames == 3)
  }

  test("a nested trak cannot strand the outer video track's sample tables") {
    val frames = Seq("AA", "BBB", "CCCC")
    val mdat = box("mdat", frames.mkString.getBytes("US-ASCII"))
    val base = ftyp.length + 8
    // nonstandard: an (audio) trak nested INSIDE the video trak, before mdia
    val inner = box("trak", box("mdia", hdlr("soun")))
    val stbl = cat(stsd("avc1"), stsz(frames.map(_.length)), stsc(Seq((1, 2), (2, 1))),
      stco(Seq(base.toLong, base.toLong + 5)), stss(Seq(1, 3)))
    val outer = box("trak", cat(tkhd(640, 360), inner,
      box("mdia", cat(hdlr("vide"), box("minf", box("stbl", stbl))))))
    val b = cat(ftyp, mdat, box("moov", cat(mvhd(1000, 5000), outer)))
    val fs = Mp4Codec.frames(b)
    assert(fs.isDefined && fs.get.length == 3,
      "outer video track's tables must survive the nested trak")
  }

  test("audio-only container yields no video info; hostile input never throws") {
    val audioOnly = cat(ftyp, box("moov", cat(mvhd(1000, 2000),
      trak("soun", 0, 0, stsd("mp4a"), stsz(Seq(2)), stsc(Seq((1, 1))), stco(Seq(0L))))))
    assert(Mp4Codec.videoInfo(audioOnly).isEmpty)
    assert(Mp4Codec.frames(audioOnly).isEmpty)
    assert(Mp4Codec.videoInfo("not a video at all".getBytes).isEmpty)
    assert(Mp4Codec.videoInfo(sampleMp4().take(30)).isEmpty) // truncated moov
    val hostile = sampleMp4()
    hostile(0) = 0x7f.toByte // corrupt the first box length
    Mp4Codec.videoInfo(hostile) // must not throw
    // declared frame range past the payload is dropped, not sliced
    val cut = sampleMp4().dropRight(1) // truncates moov, not mdat — still parses or None, no throw
    Mp4Codec.frames(cut)
  }

  test("oversized sample tables cap to a MaxFrames prefix, not an empty track") {
    // uniform stsz declaring MaxFrames+5 samples: the cap keeps the first
    // MaxFrames (the documented contract), and frames() still yields the
    // samples the chunk tables actually cover
    val frames = Seq("XX", "YY", "ZZ")
    val mdat = box("mdat", frames.mkString.getBytes("US-ASCII"))
    val base = ftyp.length + 8
    val stbl = Seq(stsd("avc1"),
      stsz(Nil, uniform = 2, count = Mp4Codec.MaxFrames + 5),
      stsc(Seq((1, 2), (2, 1))),
      stco(Seq(base.toLong, base.toLong + 4)))
    val b = cat(ftyp, mdat, box("moov", cat(mvhd(1000, 5000), trak("vide", 640, 360, stbl: _*))))
    val info = Mp4Codec.videoInfo(b).get
    assert(info.nFrames == Mp4Codec.MaxFrames.toLong, s"got ${info.nFrames}")
    val fs = Mp4Codec.frames(b).get
    assert(fs.map(f => new String(b.slice(f.offset.toInt, (f.offset + f.size).toInt))) ==
      Seq("XX", "YY", "ZZ"))
  }

  test("graft_video_meta SQL surface and helper agree; codegen path compiles") {
    import ss.implicits._
    val df = Seq((1L, sampleMp4()), (2L, "plain text".getBytes)).toDF("media_id", "media")
    val out = df.select(col("media_id"), Multimodal.videoMeta(df, col("media")).as("v"))
      .orderBy("media_id").collect()
    assert(out(0).getStruct(1).getString(1) == "avc1")
    assert(out(0).getStruct(1).getInt(2) == 640 && out(0).getStruct(1).getInt(3) == 360)
    assert(out(0).getStruct(1).getLong(4) == 5000L && out(0).getStruct(1).getLong(5) == 3L)
    assert(out(1).isNullAt(1))
    graft.plans.GraftExtensions.register(ss)
    df.createOrReplaceTempView("media_v")
    val viaSql = ss.sql("SELECT graft_video_meta(media).codec AS c FROM media_v WHERE media_id = 1").collect()
    assert(viaSql.head.getString(0) == "avc1")
  }

  test("MJPEG container decodes to real per-frame pixels and band features") {
    import ss.implicits._
    // two real JPEG frames: one half-black/half-white (band mean ~0.5),
    // one all-black (band mean ~0) — JPEG loss cannot blur those apart
    def jpegOf(rgb: Int => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16) img.setRGB(x, y, rgb(x))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out), "JDK lacks a jpg writer")
      out.toByteArray
    }
    val half = jpegOf(x => if (x < 8) 0x000000 else 0xffffff)
    val black = jpegOf(_ => 0x000000)
    val mdat = box("mdat", cat(half, black))
    val base = ftyp.length + 8
    val stbl = Seq(
      stsd("jpeg"), // the MJPEG-in-MP4 sample-description fourcc
      stsz(Seq(half.length, black.length)),
      stsc(Seq((1, 2))),
      stco(Seq(base.toLong)))
    val b = cat(ftyp, mdat, box("moov", cat(mvhd(1000, 2000), trak("vide", 16, 8, stbl: _*))))
    assert(Mp4Codec.videoInfo(b).get.codec == "jpeg")

    val df = Seq((7L, b), (8L, "not video".getBytes)).toDF("media_id", "media")
    val rows = Multimodal.decodeVideoFrames(df, dim = 4).orderBy("media_id", "frame_idx").collect()
    assert(rows.length == 2, "non-video rows contribute nothing")
    assert(rows.forall(_.getAs[Boolean]("decoded")), "MJPEG samples must really decode")
    assert(rows.forall(r => r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 8))
    val f0 = rows(0).getAs[scala.collection.Seq[Float]]("features")
    val f1 = rows(1).getAs[scala.collection.Seq[Float]]("features")
    assert(f0.length == 4 && f0.forall(v => math.abs(v - 0.5f) < 0.02f), f0.mkString(","))
    assert(f1.forall(_ < 0.02f), f1.mkString(","))
    // an entropy-coded track (avc1 bitstream samples) is marked undecoded
    val avc = sampleMp4()
    val avcRows = Multimodal.decodeVideoFrames(Seq((9L, avc)).toDF("media_id", "media")).collect()
    assert(avcRows.nonEmpty && avcRows.forall(r =>
      !r.getAs[Boolean]("decoded") && r.getAs[scala.collection.Seq[Float]]("features").isEmpty))
  }

  test("sampleVideoFrames extracts keyframes and every-Nth through the distributed stage") {
    import ss.implicits._
    val df = Seq((1L, sampleMp4()), (2L, "junk".getBytes)).toDF("media_id", "media")
    val keys = Multimodal.sampleVideoFrames(df, keyframesOnly = true).collect()
    assert(keys.map(r => new String(r.getAs[Array[Byte]]("frame"))).toSet == Set("AA", "CCCC"))
    assert(keys.forall(_.getAs[Boolean]("is_key")))
    val everyTwo = Multimodal.sampleVideoFrames(df, every = 2).collect()
    assert(everyTwo.map(_.getAs[Int]("frame_idx")).sorted.toSeq == Seq(0, 2))
    assert(Multimodal.sampleVideoFrames(df.filter($"media_id" === 2)).count() == 0)
  }
}
