package graft.operators

/** ISO BMFF (MP4/MOV) container walk on JDK primitives — the video sibling
  * of [[AudioCodec]]'s container parsers. Frame DECODE genuinely needs a
  * codec library (H.264/H.265/AV1) and stays honestly stubbed; but the
  * container level is public structure: the `moov` sample tables map every
  * video sample (frame) to its byte range in `mdat`, and `stss` marks the
  * sync samples (keyframes). That makes metadata extraction AND
  * container-level frame sampling — "give me every Nth sample's payload" /
  * "give me the keyframes" — real operations with no codec involved, which
  * is exactly the shape a 100 TB video pipeline needs: cheap distributed
  * sample selection first, expensive decode (external system) only on the
  * selected samples.
  *
  * Reference behavior anchor: the reference treats attachments as opaque
  * payloads (`data_loader.py` never decodes); this extends SURVEY §2b L11's
  * beyond-reference media path to video containers.
  *
  * Hostile input is safe: every box length is bounds-checked against the
  * buffer, recursion is capped by box nesting depth, sample counts cap at
  * [[MaxFrames]], and declared ranges outside the payload are dropped
  * (prefix-read tolerance) — malformed streams yield None, never a throw.
  */
object Mp4Codec {

  /** Video track summary: first sample-description fourcc, tkhd display
    * dimensions, movie duration, sample count. */
  final case class VideoInfo(codec: String, width: Int, height: Int,
                             durationMs: Long, nFrames: Long)

  /** One video sample's byte range, 0-based index, keyframe flag. */
  final case class FrameRef(idx: Int, offset: Long, size: Long, isKey: Boolean)

  /** Sample-count cap: 4M frames (~37 h at 30 fps) per payload. */
  val MaxFrames: Int = 4 * 1024 * 1024

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) | ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def be64(b: Array[Byte], i: Int): Long = (be32(b, i) << 32) | be32(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(Array(b(i), b(i + 1), b(i + 2), b(i + 3)), java.nio.charset.StandardCharsets.US_ASCII)

  /** True when the payload starts with a plausible ISO BMFF box ('ftyp'
    * majority case; 'moov'/'mdat'-first files exist too). */
  def sniff(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && {
      val t = fourcc(b, 4)
      t == "ftyp" || t == "moov" || t == "mdat" || t == "free" || t == "wide" || t == "skip"
    }

  /** Box scan over [start, end): invokes f(type, bodyStart, bodyEnd) per
    * box. A malformed length stops the scan (keep what was parsed). */
  private def walk(b: Array[Byte], start: Long, end: Long)(f: (String, Long, Long) => Unit): Unit = {
    var i = start
    while (i + 8 <= end) {
      val declared = be32(b, i.toInt)
      val tpe = fourcc(b, i.toInt + 4)
      var body = i + 8
      var minSize = 8L
      val size =
        if (declared == 1) { // 64-bit largesize
          if (body + 8 > end) return
          val s = be64(b, body.toInt); body += 8; minSize = 16L; s
        } else if (declared == 0) end - i // box runs to end of enclosing space
        else declared
      val boxEnd = i + size
      if (size < minSize || boxEnd > end || boxEnd <= i) return // hostile length: stop, keep parsed
      f(tpe, body, boxEnd)
      i = boxEnd
    }
  }

  private val Containers = Set("moov", "trak", "mdia", "minf", "stbl")

  /** Parsed sample tables of the FIRST video track (handler 'vide'). */
  private final class Tables {
    var timescale = 0L          // movie timescale (mvhd)
    var duration = 0L           // movie duration in timescale units
    var width = 0; var height = 0
    var codec: String = null
    var sizes: Array[Long] = null          // stsz per-sample, or null + uniform
    var uniformSize = 0L
    var nSamples = 0L
    var chunkOffsets: Array[Long] = null   // stco/co64
    var stsc: Array[(Long, Long)] = null   // (firstChunk, samplesPerChunk)
    var syncs: Array[Long] = null          // stss sample numbers (1-based), null = all key
    var videoTrackDone = false
  }

  private def parse(b: Array[Byte]): Option[Tables] = {
    if (!sniff(b)) return None
    val t = new Tables
    var inVideoTrak = false

    def visit(tpe: String, s: Long, e: Long, depth: Int): Unit = {
      if (depth > 8) return
      tpe match {
        case "mvhd" if s + 4 <= e =>
          val v = b(s.toInt) & 0xff
          if (v == 1 && s + 32 <= e) { t.timescale = be32(b, s.toInt + 20); t.duration = be64(b, s.toInt + 24) }
          else if (v == 0 && s + 24 <= e) { t.timescale = be32(b, s.toInt + 12); t.duration = be32(b, s.toInt + 16) }
        case "trak" if !t.videoTrackDone =>
          // probe the trak's handler before committing its tables; restore
          // the flag on exit so a (nonstandard) nested trak can't strand
          // the outer video track's remaining sample-table boxes
          val saved = inVideoTrak
          inVideoTrak = trakIsVideo(b, s, e)
          walk(b, s, e)((ct, cs, ce) => visit(ct, cs, ce, depth + 1))
          if (inVideoTrak && t.nSamples > 0) t.videoTrackDone = true
          inVideoTrak = saved
        case "tkhd" if inVideoTrak && s + 4 <= e =>
          val v = b(s.toInt) & 0xff
          val base = if (v == 1) s + 4 + 32 + 52 else s + 4 + 20 + 52
          if (base + 8 <= e) {
            t.width = (be32(b, base.toInt) >> 16).toInt
            t.height = (be32(b, base.toInt + 4) >> 16).toInt
          }
        case "stsd" if inVideoTrak =>
          if (s + 16 <= e && be32(b, s.toInt + 4) > 0) t.codec = fourcc(b, s.toInt + 12)
        // oversized sample tables cap to a MaxFrames PREFIX (sample tables
        // are ordered, so a prefix is a valid truncation), matching the
        // documented "sample counts cap at MaxFrames" contract — a 37-hour
        // file yields its first 4M samples, not an empty track
        case "stsz" if inVideoTrak =>
          if (s + 12 <= e) {
            t.uniformSize = be32(b, s.toInt + 4)
            val n = math.min(be32(b, s.toInt + 8), MaxFrames.toLong)
            t.nSamples = n
            if (t.uniformSize == 0 && s + 12 + n * 4 <= e) {
              t.sizes = Array.tabulate(n.toInt)(i => be32(b, s.toInt + 12 + i * 4))
            }
          }
        case "stco" | "co64" if inVideoTrak =>
          if (s + 8 <= e) {
            val n = math.min(be32(b, s.toInt + 4), MaxFrames.toLong)
            val w = if (tpe == "stco") 4 else 8
            if (s + 8 + n * w <= e)
              t.chunkOffsets = Array.tabulate(n.toInt)(i =>
                if (w == 4) be32(b, s.toInt + 8 + i * 4) else be64(b, s.toInt + 8 + i * 8))
          }
        case "stsc" if inVideoTrak =>
          if (s + 8 <= e) {
            val n = math.min(be32(b, s.toInt + 4), MaxFrames.toLong)
            if (s + 8 + n * 12 <= e)
              t.stsc = Array.tabulate(n.toInt)(i =>
                (be32(b, s.toInt + 8 + i * 12), be32(b, s.toInt + 8 + i * 12 + 4)))
          }
        case "stss" if inVideoTrak =>
          if (s + 8 <= e) {
            val n = math.min(be32(b, s.toInt + 4), MaxFrames.toLong)
            if (s + 8 + n * 4 <= e)
              t.syncs = Array.tabulate(n.toInt)(i => be32(b, s.toInt + 8 + i * 4))
          }
        case c if Containers(c) =>
          walk(b, s, e)((ct, cs, ce) => visit(ct, cs, ce, depth + 1))
        case _ => ()
      }
    }

    try {
      walk(b, 0, b.length.toLong)((tpe, s, e) => visit(tpe, s, e, 0))
      Some(t)
    } catch { case _: Throwable => None }
  }

  /** 'vide' handler probe: trak → mdia → hdlr, handler type at body+8. */
  private def trakIsVideo(b: Array[Byte], s: Long, e: Long): Boolean = {
    var video = false
    walk(b, s, e) { (t1, s1, e1) =>
      if (t1 == "mdia") walk(b, s1, e1) { (t2, s2, e2) =>
        if (t2 == "hdlr" && s2 + 12 <= e2 && fourcc(b, s2.toInt + 8) == "vide") video = true
      }
    }
    video
  }

  /** Video metadata from the container alone, None for non-MP4 / no video
    * track / malformed. */
  def videoInfo(b: Array[Byte]): Option[VideoInfo] =
    parse(b).flatMap { t =>
      if (t.codec == null && t.nSamples == 0) None
      else {
        val durMs = if (t.timescale > 0) t.duration * 1000L / t.timescale else 0L
        Some(VideoInfo(if (t.codec == null) "" else t.codec, t.width, t.height, durMs, t.nSamples))
      }
    }

  /** Byte ranges of every video sample, in sample order, keyframes marked.
    * Samples whose declared range falls outside the payload are dropped
    * (prefix-read tolerance). None when the sample tables are absent or
    * inconsistent. */
  def frames(b: Array[Byte]): Option[IndexedSeq[FrameRef]] =
    parse(b).filter(t => t.nSamples > 0 && t.chunkOffsets != null && t.stsc != null &&
        t.chunkOffsets.nonEmpty && t.stsc.nonEmpty &&
        (t.sizes != null || t.uniformSize > 0)).flatMap { t =>
      val keySet: java.util.HashSet[Long] =
        if (t.syncs == null) null
        else { val s = new java.util.HashSet[Long](); t.syncs.foreach(s.add); s }
      val out = IndexedSeq.newBuilder[FrameRef]
      var sample = 0 // 0-based
      var sci = 0
      var chunk = math.max(1L, t.stsc(0)._1) // 1-based chunk number
      while (sample < t.nSamples && chunk <= t.chunkOffsets.length) {
        // samples-per-chunk for the current chunk: last stsc run whose
        // firstChunk <= chunk
        while (sci + 1 < t.stsc.length && t.stsc(sci + 1)._1 <= chunk) sci += 1
        val perChunk = t.stsc(sci)._2
        var off = t.chunkOffsets(chunk.toInt - 1)
        var k = 0L
        while (k < perChunk && sample < t.nSamples) {
          val size = if (t.sizes != null) t.sizes(sample) else t.uniformSize
          if (size >= 0 && off >= 0 && off + size <= b.length) {
            val isKey = keySet == null || keySet.contains(sample + 1L)
            out += FrameRef(sample, off, size, isKey)
          }
          off += size
          sample += 1
          k += 1
        }
        chunk += 1
      }
      val refs = out.result()
      if (refs.isEmpty) None else Some(refs)
    }
}
