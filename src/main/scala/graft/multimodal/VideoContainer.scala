package graft.multimodal

/** Zero-dependency video CONTAINER metadata parser: ISO BMFF / MP4 box
  * tree (ftyp/moov/mvhd/trak/tkhd/hdlr) and RIFF AVI (`avih` main
  * header), plus the two frame codings decodable without any codec
  * library — MJPEG-in-AVI ([[mjpegFrames]], each frame a standalone
  * JPEG for ImageIO) and uncompressed BI_RGB AVI ([[rgbFrames]] /
  * [[decodeDib]], a pure byte-layout transform). Inter-frame codecs
  * (H.264/VP9/...) remain the declared stub boundary in
  * [[Multimodal.sampleFrames]]. The container walk is the real thing
  * either way: duration, timescale, track count and geometry come from
  * the actual bytes, which is what a corpus-curation pipeline filters
  * on (drop sub-second clips, non-16:9, single-track files) long
  * before any pixel is touched.
  *
  * Defensive by construction: every read is bounds-checked, malformed
  * sizes terminate the walk, and `parse` returns None rather than throw —
  * at 100 TB one truncated download must never abort a job (same
  * quarantine discipline as [[Multimodal.decodeAssetSafe]]).
  */
object VideoContainer {

  /** Container-level facts (no pixel decode): `format` is "mp4" or
    * "avi"; `width`/`height` come from the first video track; `handlers`
    * lists MP4 track handler types in file order (e.g. vide, soun). */
  final case class ContainerMeta(format: String, durationS: Double,
      timescale: Long, nTracks: Int, width: Int, height: Int,
      handlers: Seq[String])

  def parse(bytes: Array[Byte]): Option[ContainerMeta] =
    if (isMp4(bytes)) parseMp4(bytes)
    else if (isAvi(bytes)) parseAvi(bytes)
    else None

  def isMp4(b: Array[Byte]): Boolean =
    b.length >= 12 && fourcc(b, 4) == "ftyp"

  def isAvi(b: Array[Byte]): Boolean =
    b.length >= 12 && fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "AVI "

  // --- byte readers (big-endian for MP4, little-endian for RIFF) ---
  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def u64(b: Array[Byte], o: Int): Long =
    (u32(b, o) << 32) | u32(b, o + 4)
  private def u32le(b: Array[Byte], o: Int): Long =
    ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
      ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
  private def u16le(b: Array[Byte], o: Int): Int =
    ((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)
  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** MP4 box types whose payload is itself a box sequence. */
  private val mp4Containers =
    Set("moov", "trak", "mdia", "minf", "stbl", "edts", "udta")

  private def parseMp4(b: Array[Byte]): Option[ContainerMeta] = {
    var timescale = 0L
    var duration = 0L
    var nTracks = 0
    var width = 0
    var height = 0
    val handlers = scala.collection.mutable.ArrayBuffer.empty[String]

    def walk(lo: Int, hi: Int, depth: Int): Unit = {
      if (depth > 8) return // malformed self-nesting guard
      var o = lo
      while (o + 8 <= hi) {
        var size = u32(b, o)
        var header = 8
        if (size == 1 && o + 16 <= hi) { size = u64(b, o + 8); header = 16 }
        else if (size == 0) size = (hi - o).toLong // box runs to end
        if (size < header || o + size > hi) return // malformed: stop walk
        val typ = fourcc(b, o + 4)
        val pLo = o + header
        val pHi = o + size.toInt
        typ match {
          case "mvhd" if pLo + 4 <= pHi =>
            val v = b(pLo) & 0xff
            if (v == 1 && pLo + 32 <= pHi) {
              timescale = u32(b, pLo + 20)
              duration = u64(b, pLo + 24)
            } else if (v == 0 && pLo + 20 <= pHi) {
              timescale = u32(b, pLo + 12)
              duration = u32(b, pLo + 16)
            }
          case "trak" =>
            nTracks += 1
          case "tkhd" if pLo + 4 <= pHi =>
            val v = b(pLo) & 0xff
            // width/height are 16.16 fixed at payload offset 76 (v0) / 88
            // (v1): version+flags 4, times+id+reserved+duration 20/32,
            // reserved 8, layer/group/volume/reserved 8, matrix 36
            val geomOff = pLo + (if (v == 1) 88 else 76)
            if (geomOff + 8 <= pHi) {
              val w = (u32(b, geomOff) >> 16).toInt
              val h = (u32(b, geomOff + 4) >> 16).toInt
              if (width == 0 && w > 0) { width = w; height = h }
            }
          case "hdlr" if pLo + 12 <= pHi =>
            handlers += fourcc(b, pLo + 8)
          case _ => ()
        }
        if (mp4Containers(typ)) walk(pLo, pHi, depth + 1)
        o += size.toInt
      }
    }

    walk(0, b.length, 0)
    if (timescale > 0 || nTracks > 0)
      Some(ContainerMeta("mp4",
        if (timescale > 0) duration.toDouble / timescale else 0.0,
        timescale, nTracks, width, height, handlers.toSeq))
    else None
  }

  /** MJPEG-in-AVI frame payloads: every `##dc`/`##db` stream chunk inside
    * the `movi` LIST (including `rec ` groupings) whose payload starts
    * with a JPEG SOI marker, in file order. Empty for non-MJPEG codecs
    * or non-AVI containers — the caller picks its fallback. MJPEG is the
    * one video coding the JDK can decode (each frame is a standalone
    * JPEG for `javax.imageio`), which makes it the zero-dependency real
    * pixel path; same bounds discipline as [[parse]]. */
  def mjpegFrames(b: Array[Byte]): IndexedSeq[Array[Byte]] = {
    if (!isAvi(b)) return Vector.empty
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(lo: Int, hi: Int, depth: Int, inMovi: Boolean): Unit = {
      if (depth > 8) return
      var o = lo
      while (o + 8 <= hi) {
        val typ = fourcc(b, o)
        val size = u32le(b, o + 4)
        val pLo = o + 8
        if (size < 0 || pLo + size > hi) return
        val pHi = pLo + size.toInt
        if (typ == "LIST" && pLo + 4 <= pHi) {
          val lt = fourcc(b, pLo)
          walk(pLo + 4, pHi, depth + 1,
            inMovi || lt == "movi" || lt == "rec ")
        } else if (inMovi && size >= 2 &&
            typ(0).isDigit && typ(1).isDigit &&
            (typ.endsWith("dc") || typ.endsWith("db")) &&
            (b(pLo) & 0xff) == 0xff && (b(pLo + 1) & 0xff) == 0xd8) {
          frames += java.util.Arrays.copyOfRange(b, pLo, pHi)
        }
        o = pHi + (size.toInt & 1) // RIFF chunks are word-aligned
      }
    }
    walk(12, b.length, 0, inMovi = false)
    frames.toIndexedSeq
  }

  /** Uncompressed-RGB AVI ("DIB"/BI_RGB) frame payloads — the second
    * real pixel codec next to [[mjpegFrames]]: when the video stream's
    * `strf` BITMAPINFOHEADER declares biCompression = 0 (BI_RGB) and
    * biBitCount = 24, every `##db`/`##dc` chunk in the `movi` LIST is
    * one complete device-independent bitmap (bottom-up unless biHeight
    * is negative, BGR byte order, rows padded to 4 bytes). Returns
    * (width, height, topDown, frames); None for non-AVI, compressed, or
    * non-24-bit streams — the caller picks its fallback. Same
    * bounds-checked walk discipline as [[parse]]. */
  def rgbFrames(b: Array[Byte])
      : Option[(Int, Int, Boolean, IndexedSeq[Array[Byte]])] = {
    if (!isAvi(b)) return None
    var w = 0
    var h = 0
    var topDown = false
    var isRgb24 = false
    var inVids = false
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(lo: Int, hi: Int, depth: Int, inMovi: Boolean): Unit = {
      if (depth > 8) return
      var o = lo
      while (o + 8 <= hi) {
        val typ = fourcc(b, o)
        val size = u32le(b, o + 4)
        val pLo = o + 8
        if (size < 0 || pLo + size > hi) return
        val pHi = pLo + size.toInt
        if (typ == "LIST" && pLo + 4 <= pHi) {
          val lt = fourcc(b, pLo)
          walk(pLo + 4, pHi, depth + 1,
            inMovi || lt == "movi" || lt == "rec ")
        } else if (typ == "strh" && size >= 4) {
          // a new stream header scopes the following strf
          inVids = fourcc(b, pLo) == "vids"
        } else if (typ == "strf" && inVids && size >= 20 && !isRgb24) {
          val biHeight = u32le(b, pLo + 8).toInt // signed: <0 = top-down
          val bitCount = u16le(b, pLo + 14)
          val compression = u32le(b, pLo + 16)
          if (compression == 0 && bitCount == 24) {
            w = u32le(b, pLo + 4).toInt
            h = math.abs(biHeight)
            topDown = biHeight < 0
            isRgb24 = w > 0 && h > 0
          }
        } else if (inMovi && isRgb24 && typ.length == 4 &&
            typ(0).isDigit && typ(1).isDigit &&
            (typ.endsWith("db") || typ.endsWith("dc")) &&
            size >= ((w * 3 + 3) & ~3).toLong * h) {
          frames += java.util.Arrays.copyOfRange(b, pLo, pHi)
        }
        o = pHi + (size.toInt & 1) // RIFF chunks are word-aligned
      }
    }
    walk(12, b.length, 0, inMovi = false)
    if (isRgb24 && frames.nonEmpty) Some((w, h, topDown, frames.toIndexedSeq))
    else None
  }

  /** One DIB payload → row-major RGB-interleaved pixels (the
    * [[graft.multimodal.Multimodal.ImageIoCodec]] layout, so every
    * downstream kernel is codec-agnostic): un-flips the bottom-up row
    * order, swaps BGR→RGB, strips the 4-byte row padding. */
  def decodeDib(frame: Array[Byte], w: Int, h: Int,
      topDown: Boolean): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val s = srcRow + x * 3
        val o = (y * w + x) * 3
        out(o) = frame(s + 2)
        out(o + 1) = frame(s + 1)
        out(o + 2) = frame(s)
        x += 1
      }
      y += 1
    }
    out
  }

  private def parseAvi(b: Array[Byte]): Option[ContainerMeta] = {
    // RIFF chunk walk: [fourcc][u32le size][payload]; LIST chunks nest
    // with a 4-byte list type prefix. The main header 'avih' carries
    // dwMicroSecPerFrame, dwTotalFrames, dwStreams, dwWidth, dwHeight.
    var usPerFrame = 0L
    var totalFrames = 0L
    var streams = 0
    var width = 0
    var height = 0

    def walk(lo: Int, hi: Int, depth: Int): Unit = {
      if (depth > 8) return
      var o = lo
      while (o + 8 <= hi) {
        val typ = fourcc(b, o)
        val size = u32le(b, o + 4)
        val pLo = o + 8
        if (size < 0 || pLo + size > hi) return
        val pHi = pLo + size.toInt
        if (typ == "LIST" && pLo + 4 <= pHi) walk(pLo + 4, pHi, depth + 1)
        else if (typ == "avih" && pLo + 40 <= pHi) {
          usPerFrame = u32le(b, pLo)
          totalFrames = u32le(b, pLo + 16)
          streams = u32le(b, pLo + 24).toInt
          width = u32le(b, pLo + 32).toInt
          height = u32le(b, pLo + 36).toInt
        }
        o = pHi + (size.toInt & 1) // RIFF chunks are word-aligned
      }
    }

    walk(12, b.length, 0)
    if (usPerFrame > 0 || streams > 0)
      Some(ContainerMeta("avi", totalFrames * usPerFrame / 1e6,
        if (usPerFrame > 0) 1000000L / usPerFrame else 0L,
        streams, width, height, Seq.empty))
    else None
  }
}
