package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Barriers.FirewallOps

/** Multimodal columns: image/audio/video payloads as opaque binary with
  * typed metadata, processed per-partition.
  *
  * The Spark-side plumbing — schema, partition-parallel batch iteration,
  * struct metadata, deterministic ids — is real and tested, and the
  * codecs are REAL where the JVM ships one:
  *
  *  - images (png/jpeg/gif/bmp/tiff): `javax.imageio` — full pixel
  *    decode, resize ([[resizeImages]]), gray-patch embeddings
  *    ([[embed]]) and 64-bit average-hash fingerprints ([[imageHash]])
  *    all run on decoded pixels;
  *  - audio (wav/au/aiff): `javax.sound.sampled` header+frame parse for
  *    duration; PCM samples feed the audio embedding;
  *  - BMP/WAV additionally have pure-JVM header parsers whose output an
  *    external oracle can recompute, so [[syntheticMedia]] + [[decode]]
  *    is a genuine build->parse round trip under the hash gate;
  *  - video: the JDK ships no demuxer, but MP4 METADATA needs none —
  *    [[parseMp4]] walks the ISO-BMFF box tree (`moov/mvhd` for
  *    timescale+duration, `trak/tkhd` for track dimensions), the same
  *    pure-JVM approach as the BMP/WAV header parsers, and
  *    [[buildMp4]] emits a structurally valid container so the pair is
  *    an oracle-checkable round trip. Frame PIXELS are real for AVI:
  *    [[decodeAviFrames]] unpacks uncompressed BI_RGB '00db' frames
  *    directly and routes MJPEG '00dc' frames through the ImageIO JPEG
  *    codec, so [[videoFrames]] emits measured frame content
  *    (oracle-checked via [[buildAvi]]'s deterministic pixel rule).
  *    Matroska/WebM metadata AND frames are equally real via the
  *    pure-JVM EBML walk ([[parseMkv]]/[[decodeMkvFrames]]:
  *    V_UNCOMPRESSED RGB24 + V_MJPEG through ImageIO). Payloads no
  *    pure-JVM path recognizes fall to the clearly-marked STUB
  *    ([[fakeDecode]]); frame-sample PLANNING ([[sampleFrames]]) is
  *    real plumbing either way.
  *
  * Per-partition `mapPartitions` is the Scala analogue of a
  * `mapInPandas` batch UDF: no shuffle, codec state per task, scales by
  * adding executors.
  */
object Media {

  // ImageIO's default scratch-file cache adds a disk round trip per
  // decode; everything here is in-memory byte arrays.
  javax.imageio.ImageIO.setUseCache(false)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType), // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("declared_format", StringType))))))

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType),
    StructField("n_bytes", LongType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  // ---- real container builders/parsers (pure JVM, no codec libs) ----------

  private def le16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def le32(b: Array[Byte], off: Int, v: Int): Unit = {
    le16(b, off, v & 0xffff); le16(b, off + 2, (v >>> 16) & 0xffff)
  }
  private def rdLe16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def rdLe32(b: Array[Byte], off: Int): Int =
    rdLe16(b, off) | (rdLe16(b, off + 2) << 16)

  /** A structurally valid 24bpp BMP (BITMAPFILEHEADER + 40-byte
    * BITMAPINFOHEADER + padded pixel rows; pixel bytes deterministic). */
  def buildBmp(width: Int, height: Int): Array[Byte] = {
    val rowSize = ((width * 3 + 3) / 4) * 4
    val size = 54 + rowSize * height
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    le32(b, 2, size); le32(b, 10, 54)
    le32(b, 14, 40); le32(b, 18, width); le32(b, 22, height)
    le16(b, 26, 1); le16(b, 28, 24)
    le32(b, 34, rowSize * height)
    var i = 54
    while (i < size) { b(i) = ((i * 31 + width) & 0xff).toByte; i += 1 }
    b
  }

  /** An 8x8 black/white 24bpp BMP whose average-hash is EXACTLY the
    * given 60-bit pattern (bit i = pixel (i%8, i/8) white): with both
    * colors present the 8x8 patch mean lies strictly between 0 and
    * 255, so `gray > mean` is true exactly on the white pixels —
    * independent of the grayscale coefficients' floating-point
    * representation — and an all-black pattern hashes to 0 either way.
    * This collapses the real decode -> resample(8x8, identity at 1:1)
    * -> gray -> mean chain to the planted pattern, which is what makes
    * the banded near-dup machinery externally SQL-mirrorable end to
    * end while the payload still walks the genuine BMP codec path. */
  def buildBmpPattern(pattern: Long): Array[Byte] = {
    val rowSize = 24 // 8 * 3, already 4-byte aligned
    val size = 54 + rowSize * 8
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    le32(b, 2, size); le32(b, 10, 54)
    le32(b, 14, 40); le32(b, 18, 8); le32(b, 22, 8)
    le16(b, 26, 1); le16(b, 28, 24)
    le32(b, 34, rowSize * 8)
    var s = 0
    while (s < 8) {
      val y = 7 - s // BMP rows are bottom-up
      var x = 0
      while (x < 8) {
        val v: Byte =
          if (((pattern >>> (y * 8 + x)) & 1L) == 1L) 0xff.toByte else 0x00
        val off = 54 + s * rowSize + x * 3
        b(off) = v; b(off + 1) = v; b(off + 2) = v
        x += 1
      }
      s += 1
    }
    b
  }

  /** A structurally valid RIFF/WAVE PCM payload (16-bit mono). */
  def buildWav(sampleRate: Int, nSamples: Int): Array[Byte] = {
    val dataSize = nSamples * 2
    val b = new Array[Byte](44 + dataSize)
    def tag(off: Int, s: String): Unit = s.zipWithIndex.foreach {
      case (c, i) => b(off + i) = c.toByte
    }
    tag(0, "RIFF"); le32(b, 4, 36 + dataSize); tag(8, "WAVE")
    tag(12, "fmt "); le32(b, 16, 16); le16(b, 20, 1); le16(b, 22, 1)
    le32(b, 24, sampleRate); le32(b, 28, sampleRate * 2)
    le16(b, 32, 2); le16(b, 34, 16)
    tag(36, "data"); le32(b, 40, dataSize)
    var i = 44
    while (i < b.length) { b(i) = ((i * 17 + nSamples) & 0xff).toByte; i += 1 }
    b
  }

  /** A real RIFF/WAVE PCM payload (16-bit mono) whose per-window
    * loudness is EXACT: window w (of `windowSamples` samples) is an
    * alternating +amps(w)/-amps(w) square wave, so its RMS equals
    * amps(w) precisely (every |sample| = A, sqrt of a perfect square)
    * — the audio analogue of [[buildBmpPattern]]: the planted
    * quantity survives the real javax.sound codec round trip
    * bit-exactly, which is what makes [[audioFingerprint]] externally
    * mirrorable. */
  def buildSquareWav(amps: Seq[Int], windowSamples: Int = 1000,
      sampleRate: Int = 8000): Array[Byte] = {
    val n = amps.length * windowSamples
    val dataSize = n * 2
    val b = new Array[Byte](44 + dataSize)
    def tag(off: Int, s: String): Unit = s.zipWithIndex.foreach {
      case (c, i) => b(off + i) = c.toByte
    }
    tag(0, "RIFF"); le32(b, 4, 36 + dataSize); tag(8, "WAVE")
    tag(12, "fmt "); le32(b, 16, 16); le16(b, 20, 1); le16(b, 22, 1)
    le32(b, 24, sampleRate); le32(b, 28, sampleRate * 2)
    le16(b, 32, 2); le16(b, 34, 16)
    tag(36, "data"); le32(b, 40, dataSize)
    var k = 0
    while (k < n) {
      val a = amps(k / windowSamples)
      val v = if (k % 2 == 0) a else -a
      b(44 + 2 * k) = (v & 0xff).toByte
      b(45 + 2 * k) = ((v >> 8) & 0xff).toByte
      k += 1
    }
    b
  }

  /** A real PNG (or any ImageIO-writable format) with deterministic
    * pixel content derived only from (width, height) — so an external
    * oracle can predict decode metadata from the dimensions alone while
    * the payload still round-trips through the actual zlib/Huffman
    * codec. */
  def buildImage(width: Int, height: Int, format: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, (x * 31 + y * 17 + width * 7 + height) & 0xffffff)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Real header parse: (format, width, height, duration_ms) for BMP,
    * WAV, AVI and MP4 magic; None for anything else (goes to the
    * JDK-codec ladder, then the STUB path). */
  def parseContainer(payload: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M')
      Some(("bmp", rdLe32(payload, 18), rdLe32(payload, 22), 0L))
    else if (payload.length >= 44 &&
        new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
        new String(payload, 8, 4, "US-ASCII") == "WAVE") {
      val sampleRate = rdLe32(payload, 24)
      val bytesPerSample = rdLe16(payload, 32)
      val dataSize = rdLe32(payload, 40)
      val nSamples = if (bytesPerSample == 0) 0 else dataSize / bytesPerSample
      Some(("wav", 0, 0, nSamples.toLong * 1000L / sampleRate))
    } else parseAvi(payload).orElse(parseMp4(payload)).orElse(parseMkv(payload))
  }

  /** Iterate sibling RIFF chunks of [start, end): f(fourcc, bodyStart,
    * bodyEnd). Chunk bodies are WORD-aligned (odd sizes padded). The
    * little-endian twin of [[walkBoxes]]. */
  private def walkRiff(b: Array[Byte], start: Int, end: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var off = start
    while (off + 8 <= end) {
      val t = new String(b, off, 4, "US-ASCII")
      // The on-disk size is unsigned; widen to Long before the bound
      // check so a crafted size near 2^31 can't wrap `off + 8 + size`
      // negative, sneak past `> end`, and drive `off` out of range.
      val size = rdLe32(b, off + 4).toLong & 0xffffffffL
      if (off + 8L + size > end) return
      f(t, off + 8, (off + 8L + size).toInt)
      val next = off + 8L + size + (size & 1L)
      if (next > end) return
      off = next.toInt
    }
  }

  /** Real AVI metadata parse — pure-JVM RIFF walk to `hdrl/avih`:
    * (format, width, height, duration_ms = usPerFrame * totalFrames).
    * None when the RIFF/AVI structure is absent. */
  def parseAvi(payload: Array[Byte]): Option[(String, Int, Int, Long)] = try {
    if (payload.length < 12 + 8 + 56) return None
    if (new String(payload, 0, 4, "US-ASCII") != "RIFF" ||
        new String(payload, 8, 4, "US-ASCII") != "AVI ") return None
    var out: Option[(String, Int, Int, Long)] = None
    walkRiff(payload, 12, payload.length) { (t, bs, be) =>
      if (t == "LIST" && be - bs >= 4 &&
          new String(payload, bs, 4, "US-ASCII") == "hdrl") {
        walkRiff(payload, bs + 4, be) { (t2, bs2, be2) =>
          if (t2 == "avih" && be2 - bs2 >= 40 && out.isEmpty) {
            val usPerFrame = rdLe32(payload, bs2).toLong & 0xffffffffL
            val total = rdLe32(payload, bs2 + 16).toLong & 0xffffffffL
            val w = rdLe32(payload, bs2 + 32)
            val h = rdLe32(payload, bs2 + 36)
            out = Some(("avi", w, h, usPerFrame * total / 1000L))
          }
        }
      }
    }
    out
  } catch {
    // A malformed payload must fall through to the codec ladder / stub
    // path (a decode task never dies on crafted bytes), matching
    // parseMp4's posture.
    case scala.util.control.NonFatal(_) => None
  }

  /** A structurally valid AVI container. Default codec is uncompressed
    * BI_RGB ('DIB ', '00db' chunks: bottom-up BGR24 rows, 4-byte padded
    * like BMP); `mjpeg=true` emits real ImageIO-encoded JPEG frames in
    * '00dc' chunks (handler 'MJPG') instead. Frame f's pixel (x, y) has
    * r = g = b = (x*31 + y*17 + f*29) & 0xff — deterministic from the
    * construction params, so an external oracle recomputes raw-frame
    * statistics without a codec (the MJPEG variant is lossy and
    * verified in-JVM only). */
  def buildAvi(width: Int, height: Int, nFrames: Int, fps: Int = 10,
      mjpeg: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames >= 0 && fps > 0,
      s"invalid AVI geometry: ${width}x$height x$nFrames @${fps}fps")
    def pixel(x: Int, y: Int, f: Int): Int = (x * 31 + y * 17 + f * 29) & 0xff
    val rowSize = ((width * 3 + 3) / 4) * 4
    val chunks: Seq[(String, Array[Byte])] = (0 until nFrames).map { f =>
      if (mjpeg) {
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val v = pixel(x, y, f)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        ("00dc", bos.toByteArray)
      } else {
        val b = new Array[Byte](rowSize * height)
        var s = 0
        while (s < height) {
          val y = height - 1 - s // bottom-up storage
          var x = 0
          while (x < width) {
            val v = pixel(x, y, f).toByte
            val p = s * rowSize + x * 3
            b(p) = v; b(p + 1) = v; b(p + 2) = v
            x += 1
          }
          s += 1
        }
        ("00db", b)
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    def tag(s: String): Unit = s.foreach(c => bos.write(c.toInt))
    val handler = if (mjpeg) "MJPG" else "DIB "
    val strhSize = 56; val strfSize = 40; val avihSize = 56
    val strlSize = 4 + (8 + strhSize) + (8 + strfSize)
    val hdrlSize = 4 + (8 + avihSize) + (8 + strlSize)
    val moviSize = 4 + chunks.map { case (_, c) => 8 + c.length + (c.length & 1) }.sum
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    tag("RIFF"); w32(riffSize); tag("AVI ")
    tag("LIST"); w32(hdrlSize); tag("hdrl")
    tag("avih"); w32(avihSize)
    w32(1000000 / fps)                 // usPerFrame
    w32(0); w32(0); w32(0)             // maxBytesPerSec, padding, flags
    w32(nFrames); w32(0); w32(1)       // totalFrames, initialFrames, streams
    w32(rowSize * height)              // suggestedBufferSize
    w32(width); w32(height)
    (0 until 4).foreach(_ => w32(0))   // reserved
    tag("LIST"); w32(strlSize); tag("strl")
    tag("strh"); w32(strhSize)
    tag("vids"); tag(handler)
    w32(0); w32(0); w32(0)             // flags, priority+language, initialFrames
    w32(1); w32(fps)                   // scale, rate -> fps frames/sec
    w32(0); w32(nFrames)               // start, length
    w32(rowSize * height); w32(-1); w32(0) // suggestedBuf, quality, sampleSize
    w16(0); w16(0); w16(width); w16(height) // rcFrame
    tag("strf"); w32(strfSize)
    w32(40); w32(width); w32(height)
    w16(1); w16(24)                    // planes, bpp
    if (mjpeg) tag("MJPG") else w32(0) // biCompression
    w32(rowSize * height); w32(0); w32(0); w32(0); w32(0)
    tag("LIST"); w32(moviSize); tag("movi")
    chunks.foreach { case (cc, c) =>
      tag(cc); w32(c.length); bos.write(c, 0, c.length)
      if ((c.length & 1) == 1) bos.write(0)
    }
    bos.toByteArray
  }

  /** REAL frame-pixel decode of an AVI payload's movi chunks:
    * uncompressed '..db' BI_RGB frames are unpacked directly
    * (bottom-up BGR24 -> BufferedImage), and MJPEG '..dc' frames
    * (JPEG SOI marker) go through the actual ImageIO JPEG codec.
    * Non-AVI payloads and unrecognized chunks yield no frames. */
  def decodeAviFrames(payload: Array[Byte]): Seq[java.awt.image.BufferedImage] = try {
    val meta = parseAvi(payload)
    if (meta.isEmpty) return Nil
    val (_, w, h, _) = meta.get
    // Bound the claimed geometry BEFORE any allocation: a crafted avih
    // w/h can't force a multi-GB BufferedImage, and every chunk-size
    // compare below stays in Long so rowSize*h can't overflow Int.
    if (w <= 0 || h <= 0 || w > 16384 || h > 16384) return Nil
    val rowSize = ((w * 3 + 3) / 4) * 4
    val frames = Seq.newBuilder[java.awt.image.BufferedImage]
    walkRiff(payload, 12, payload.length) { (t, bs, be) =>
      if (t == "LIST" && be - bs >= 4 &&
          new String(payload, bs, 4, "US-ASCII") == "movi") {
        walkRiff(payload, bs + 4, be) { (t2, bs2, be2) =>
          if (t2.endsWith("db") && (be2 - bs2).toLong >= rowSize.toLong * h) {
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var s = 0
            while (s < h) {
              val y = h - 1 - s
              var x = 0
              while (x < w) {
                val p = bs2 + s * rowSize + x * 3
                val bB = payload(p) & 0xff
                val gB = payload(p + 1) & 0xff
                val rB = payload(p + 2) & 0xff
                img.setRGB(x, y, (rB << 16) | (gB << 8) | bB)
                x += 1
              }
              s += 1
            }
            frames += img
          } else if (t2.endsWith("dc") && be2 - bs2 >= 2 &&
              (payload(bs2) & 0xff) == 0xff && (payload(bs2 + 1) & 0xff) == 0xd8) {
            decodeImage(java.util.Arrays.copyOfRange(payload, bs2, be2))
              .foreach(frames += _)
          }
        }
      }
    }
    frames.result()
  } catch {
    case scala.util.control.NonFatal(_) => Nil
  }

  /** Frame-CONTENT extraction stage: one row per decoded video frame
    * with its dimensions and mean gray level — real pixels, not
    * metadata. AVI payloads decode via [[decodeAviFrames]] (BI_RGB +
    * MJPEG), MP4 payloads via [[decodeMp4Frames]] (sample-table
    * walk, `raw ` RGB24 + MJPEG through ImageIO) and Matroska/WebM
    * payloads via [[decodeMkvFrames]] (EBML walk, V_UNCOMPRESSED +
    * V_MJPEG); unrecognized containers emit no rows here — their
    * planning twin is [[sampleFrames]]. Scale shape: per-partition
    * map with a bounded per-row fan-out (nFrames rows per video), no
    * shuffle. */
  def videoFrames(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("f_width", IntegerType),
      StructField("f_height", IntegerType),
      StructField("mean_gray", DoubleType)))
    val enc = Encoders.row(schema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val decoded = {
          val avi = decodeAviFrames(payload)
          if (avi.nonEmpty) avi
          else {
            val mp4 = decodeMp4Frames(payload)
            if (mp4.nonEmpty) mp4 else decodeMkvFrames(payload)
          }
        }
        decoded.zipWithIndex.map {
          case (img, i) =>
            val fw = img.getWidth; val fh = img.getHeight
            var sum = 0.0
            var y = 0
            while (y < fh) {
              var x = 0
              while (x < fw) { sum += gray(img.getRGB(x, y)); x += 1 }
              y += 1
            }
            Row(id, i, fw, fh, sum / (fw.toLong * fh))
        }
      }
    }(enc)
  }

  // ISO-BMFF fields are big-endian, unlike BMP/WAV above.
  private def rdBe32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def rdBe64(b: Array[Byte], off: Int): Long =
    (rdBe32(b, off) << 32) | rdBe32(b, off + 4)
  private def wrBe32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = ((v >>> 24) & 0xff).toByte; b(off + 1) = ((v >>> 16) & 0xff).toByte
    b(off + 2) = ((v >>> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
  }
  private def boxType(b: Array[Byte], off: Int): String =
    new String(b, off + 4, 4, "US-ASCII")

  /** Iterate the sibling boxes of [start, end), calling f(type, bodyStart,
    * bodyEnd). Stops on a malformed size. 64-bit largesize (size==1) and
    * to-end (size==0) boxes are handled per ISO/IEC 14496-12 §4.2. */
  private def walkBoxes(b: Array[Byte], start: Int, end: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var off = start
    while (off + 8 <= end) {
      val size32 = rdBe32(b, off)
      val (size, hdr) =
        if (size32 == 1L && off + 16 <= end) (rdBe64(b, off + 8), 16)
        else if (size32 == 0L) ((end - off).toLong, 8)
        else (size32, 8)
      if (size < hdr || off + size > end) return
      f(boxType(b, off), off + hdr, off + size.toInt)
      off += size.toInt
    }
  }

  /** Real MP4 metadata parse — a pure-JVM ISO-BMFF box walk, no codec:
    * `moov/mvhd` yields timescale + movie duration, the first
    * `moov/trak/tkhd` yields the track's 16.16-fixed-point display
    * dimensions. Handles version-0 and version-1 (64-bit time) headers.
    * Returns None when no `ftyp`/`moov` structure is present. */
  def parseMp4(payload: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (payload.length < 16) return None
    if (boxType(payload, 0) != "ftyp" && boxType(payload, 0) != "moov") return None
    var timescale = 0L; var duration = -1L
    var w = 0; var h = 0
    var sawMoov = false
    walkBoxes(payload, 0, payload.length) { (t, bs, be) =>
      if (t == "moov") {
        sawMoov = true
        walkBoxes(payload, bs, be) { (t2, bs2, be2) =>
          if (t2 == "mvhd" && be2 - bs2 >= 20) {
            val v = payload(bs2) & 0xff
            if (v == 1 && be2 - bs2 >= 32) {
              timescale = rdBe32(payload, bs2 + 20)
              duration = rdBe64(payload, bs2 + 24)
            } else {
              timescale = rdBe32(payload, bs2 + 12)
              duration = rdBe32(payload, bs2 + 16)
            }
          } else if (t2 == "trak") {
            walkBoxes(payload, bs2, be2) { (t3, bs3, be3) =>
              if (t3 == "tkhd" && w == 0) {
                // width/height are the LAST 8 bytes of the tkhd body in
                // both versions (16.16 fixed point)
                if (be3 - bs3 >= 8) {
                  w = (rdBe32(payload, be3 - 8) >>> 16).toInt
                  h = (rdBe32(payload, be3 - 4) >>> 16).toInt
                }
              }
            }
          }
        }
      }
    }
    if (!sawMoov || timescale <= 0L || duration < 0L) None
    else Some(("mp4", w, h, duration * 1000L / timescale))
  }

  /** A structurally valid minimal MP4: `ftyp` + `moov(mvhd, trak(tkhd))`
    * + a deterministic `mdat` stub. Timescale is 1000 so duration_ms
    * round-trips exactly through [[parseMp4]]. */
  def buildMp4(width: Int, height: Int, durationMs: Long,
      mdatBytes: Int = 64): Array[Byte] = {
    val ftypSize = 20
    val mvhdSize = 108 // 8 hdr + v/flags 4 + times 8 + ts 4 + dur 4 + rate 4 +
                       // vol 2 + rsvd 10 + matrix 36 + predef 24 + next 4
    val tkhdSize = 92  // 8 hdr + v/flags 4 + times 8 + id 4 + rsvd 4 + dur 4 +
                       // rsvd 8 + layer/alt/vol/rsvd 8 + matrix 36 + w/h 8
    val trakSize = 8 + tkhdSize
    val moovSize = 8 + mvhdSize + trakSize
    val mdatSize = 8 + mdatBytes
    val b = new Array[Byte](ftypSize + moovSize + mdatSize)
    def tag(off: Int, s: String): Unit =
      s.zipWithIndex.foreach { case (c, i) => b(off + i) = c.toByte }
    // ftyp
    wrBe32(b, 0, ftypSize); tag(4, "ftyp"); tag(8, "isom")
    wrBe32(b, 12, 0); tag(16, "isom")
    // moov
    val moov = ftypSize
    wrBe32(b, moov, moovSize); tag(moov + 4, "moov")
    // mvhd (version 0)
    val mvhd = moov + 8
    wrBe32(b, mvhd, mvhdSize); tag(mvhd + 4, "mvhd")
    wrBe32(b, mvhd + 20, 1000L)       // timescale: ms
    wrBe32(b, mvhd + 24, durationMs)  // duration in timescale units
    wrBe32(b, mvhd + 28, 0x00010000L) // rate 1.0
    b(mvhd + 32) = 0x01; b(mvhd + 33) = 0x00 // volume 1.0
    // unity matrix
    wrBe32(b, mvhd + 44, 0x00010000L); wrBe32(b, mvhd + 60, 0x00010000L)
    wrBe32(b, mvhd + 76, 0x40000000L)
    wrBe32(b, mvhd + 104, 2L) // next_track_ID
    // trak/tkhd (version 0, flags enabled|in-movie)
    val trak = mvhd + mvhdSize
    wrBe32(b, trak, trakSize); tag(trak + 4, "trak")
    val tkhd = trak + 8
    wrBe32(b, tkhd, tkhdSize); tag(tkhd + 4, "tkhd")
    wrBe32(b, tkhd + 8, 0x00000007L)  // v0 + flags
    wrBe32(b, tkhd + 20, 1L)          // track_ID
    wrBe32(b, tkhd + 28, durationMs)  // track duration
    // matrix at body offset 40, then 16.16 width/height in the final 8
    // body bytes
    wrBe32(b, tkhd + 48, 0x00010000L); wrBe32(b, tkhd + 64, 0x00010000L)
    wrBe32(b, tkhd + 80, 0x40000000L)
    wrBe32(b, tkhd + 84, width.toLong << 16)
    wrBe32(b, tkhd + 88, height.toLong << 16)
    // mdat: deterministic filler derived from the construction params
    val mdat = moov + moovSize
    wrBe32(b, mdat, mdatSize); tag(mdat + 4, "mdat")
    var i = mdat + 8
    while (i < b.length) {
      b(i) = ((i * 13 + width * 7 + height * 3 + durationMs) & 0xff).toByte
      i += 1
    }
    b
  }

  /** Size-prefixed big-endian ISO-BMFF box from raw body parts — the
    * construction twin of [[walkBoxes]]. */
  private def beBox(tag: String, body: Array[Byte]*): Array[Byte] = {
    val size = 8 + body.map(_.length).sum
    val out = new Array[Byte](size)
    wrBe32(out, 0, size)
    tag.zipWithIndex.foreach { case (c, i) => out(4 + i) = c.toByte }
    var off = 8
    body.foreach { b => System.arraycopy(b, 0, out, off, b.length); off += b.length }
    out
  }

  /** A structurally valid MP4 that carries REAL frame samples behind a
    * full sample table (`stbl`): `ftyp` + `mdat` (the frame bytes) +
    * `moov(mvhd, trak(tkhd, mdia(mdhd, hdlr, minf(vmhd, dinf(dref),
    * stbl(stsd, stts, stsc, stsz, stco)))))` per ISO/IEC 14496-12 §8.
    * Default codec is the QuickTime-style uncompressed 24-bit `raw `
    * sample entry (top-down RGB rows, no padding) with the SAME
    * deterministic pixel rule as [[buildAvi]] — r = g = b =
    * (x*31 + y*17 + f*29) & 0xff — so an external oracle recomputes
    * raw-frame statistics without a codec; `mjpeg = true` emits real
    * ImageIO-encoded JPEG samples under a `jpeg` sample entry instead
    * (lossy, verified in-JVM only — [[buildAvi]]'s discipline). All
    * samples live in ONE chunk, so `stco` is a single offset and
    * `stsc` a single run; `stsz` carries per-sample sizes. */
  def buildMp4Frames(width: Int, height: Int, nFrames: Int, fps: Int = 10,
      mjpeg: Boolean = false): Array[Byte] =
    buildMp4FramesWith(width, height, nFrames, fps, mjpeg,
      (x, y, f) => (x * 31 + y * 17 + f * 29) & 0xff)

  /** [[buildMp4Frames]] with a caller-supplied pixel rule — the hook
    * [[syntheticPatternMp4s]] uses to plant constant-luminance frames
    * whose decoded mean gray equals an md5-derived value exactly. */
  def buildMp4FramesWith(width: Int, height: Int, nFrames: Int,
      fps: Int, mjpeg: Boolean,
      pixel: (Int, Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames >= 0 && fps > 0,
      s"invalid MP4 geometry: ${width}x$height x$nFrames @${fps}fps")
    val samples: Seq[Array[Byte]] = (0 until nFrames).map { f =>
      if (mjpeg) {
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val v = pixel(x, y, f)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      } else {
        val b = new Array[Byte](width * 3 * height)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val v = pixel(x, y, f).toByte
            val p = (y * width + x) * 3
            b(p) = v; b(p + 1) = v; b(p + 2) = v
            x += 1
          }
          y += 1
        }
        b
      }
    }
    def be32(vs: Long*): Array[Byte] = {
      val b = new Array[Byte](vs.length * 4)
      vs.zipWithIndex.foreach { case (v, i) => wrBe32(b, i * 4, v) }
      b
    }
    val durationMs = nFrames.toLong * 1000L / fps
    val ftyp = {
      val b = new Array[Byte](20)
      wrBe32(b, 0, 20)
      "ftypisom".zipWithIndex.foreach { case (c, i) => b(4 + i) = c.toByte }
      "isom".zipWithIndex.foreach { case (c, i) => b(16 + i) = c.toByte }
      b
    }
    val mdat = beBox("mdat", samples: _*)
    val chunkOff = ftyp.length + 8L // first sample byte inside mdat
    val mvhd = {
      val b = new Array[Byte](100) // v0: see buildMp4's field map
      wrBe32(b, 12, 1000L); wrBe32(b, 16, durationMs)
      wrBe32(b, 20, 0x00010000L); b(24) = 0x01
      wrBe32(b, 36, 0x00010000L); wrBe32(b, 52, 0x00010000L)
      wrBe32(b, 68, 0x40000000L); wrBe32(b, 96, 2L)
      beBox("mvhd", b)
    }
    val tkhd = {
      val b = new Array[Byte](84) // v0
      wrBe32(b, 0, 0x00000007L) // flags: enabled | in-movie | in-preview
      wrBe32(b, 12, 1L)         // track_ID
      wrBe32(b, 20, durationMs)
      wrBe32(b, 40, 0x00010000L); wrBe32(b, 56, 0x00010000L)
      wrBe32(b, 72, 0x40000000L)
      wrBe32(b, 76, width.toLong << 16); wrBe32(b, 80, height.toLong << 16)
      beBox("tkhd", b)
    }
    val mdhd = {
      val b = new Array[Byte](24) // v0; media timescale = fps, delta 1/frame
      wrBe32(b, 12, fps.toLong); wrBe32(b, 16, nFrames.toLong)
      b(20) = 0x55; b(21) = 0xc4.toByte // packed ISO-639-2 'und'
      beBox("mdhd", b)
    }
    val hdlr = {
      val b = new Array[Byte](25) // v/flags + predefined + 'vide' + rsvd + ""
      "vide".zipWithIndex.foreach { case (c, i) => b(8 + i) = c.toByte }
      beBox("hdlr", b)
    }
    val vmhd = { val b = new Array[Byte](12); wrBe32(b, 0, 1L); beBox("vmhd", b) }
    val dinf = beBox("dinf",
      beBox("dref", be32(0L, 1L), beBox("url ", be32(1L)))) // self-contained
    val stsd = {
      val e = new Array[Byte](86) // VisualSampleEntry
      wrBe32(e, 0, 86L)
      (if (mjpeg) "jpeg" else "raw ").zipWithIndex.foreach {
        case (c, i) => e(4 + i) = c.toByte }
      e(15) = 1 // data_reference_index
      e(32) = ((width >> 8) & 0xff).toByte; e(33) = (width & 0xff).toByte
      e(34) = ((height >> 8) & 0xff).toByte; e(35) = (height & 0xff).toByte
      wrBe32(e, 36, 0x00480000L); wrBe32(e, 40, 0x00480000L) // 72 dpi
      e(49) = 1                                    // frame_count
      e(82) = 0x00; e(83) = 24                     // depth
      e(84) = 0xff.toByte; e(85) = 0xff.toByte     // pre_defined = -1
      beBox("stsd", be32(0L, 1L), e)
    }
    val stts =
      if (nFrames == 0) beBox("stts", be32(0L, 0L))
      else beBox("stts", be32(0L, 1L, nFrames.toLong, 1L))
    val stsc =
      if (nFrames == 0) beBox("stsc", be32(0L, 0L))
      else beBox("stsc", be32(0L, 1L, 1L, nFrames.toLong, 1L))
    val stsz = beBox("stsz",
      be32(0L, 0L, nFrames.toLong), be32(samples.map(_.length.toLong): _*))
    val stco =
      if (nFrames == 0) beBox("stco", be32(0L, 0L))
      else beBox("stco", be32(0L, 1L, chunkOff))
    val stbl = beBox("stbl", stsd, stts, stsc, stsz, stco)
    val minf = beBox("minf", vmhd, dinf, stbl)
    val mdia = beBox("mdia", mdhd, hdlr, minf)
    val trak = beBox("trak", tkhd, mdia)
    val moov = beBox("moov", mvhd, trak)
    ftyp ++ mdat ++ moov
  }

  /** REAL frame-pixel decode of an MP4 payload through its sample
    * tables — the ISO-BMFF twin of [[decodeAviFrames]]: walk
    * `moov/trak/mdia/minf/stbl`, read `stsd` (sample-entry codec +
    * dimensions), `stsz` (sample sizes), `stco` (chunk offsets) and
    * `stsc` (samples-per-chunk runs), resolve each sample's byte range
    * in `mdat`, and decode: `jpeg`/JPEG-magic samples go through the
    * hardened ImageIO path ([[decodeImage]], 16384^2 pre-check) and
    * `raw ` samples are unpacked directly (top-down RGB24). Non-MP4
    * payloads, absent/empty sample tables and unrecognized codecs
    * yield no frames; all offsets/sizes are bounds-checked in Long
    * against the payload, the sample count is capped (65536) and the
    * claimed geometry is capped (16384^2) BEFORE any allocation, so a
    * crafted sample table can't force a giant raster or a wild read —
    * [[decodeAviFrames]]'s posture. */
  def decodeMp4Frames(payload: Array[Byte]): Seq[java.awt.image.BufferedImage] = try {
    if (payload.length < 16 || boxType(payload, 0) != "ftyp") return Nil
    var fmt = ""; var w = 0; var h = 0
    var sizes: Array[Long] = null
    var chunkOffs: Array[Long] = null
    var stscRuns: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)
    var found = false
    walkBoxes(payload, 0, payload.length) { (t, bs, be) =>
      if (t == "moov") walkBoxes(payload, bs, be) { (t2, bs2, be2) =>
        if (t2 == "trak" && !found) walkBoxes(payload, bs2, be2) { (t3, bs3, be3) =>
          if (t3 == "mdia") walkBoxes(payload, bs3, be3) { (t4, bs4, be4) =>
            if (t4 == "minf") walkBoxes(payload, bs4, be4) { (t5, bs5, be5) =>
              if (t5 == "stbl") {
                found = true
                walkBoxes(payload, bs5, be5) { (t6, bs6, be6) =>
                  val n = be6 - bs6
                  if (t6 == "stsd" && n >= 8 + 36 && rdBe32(payload, bs6 + 4) >= 1) {
                    fmt = boxType(payload, bs6 + 8) // entry's (size, format)
                    w = ((payload(bs6 + 40) & 0xff) << 8) | (payload(bs6 + 41) & 0xff)
                    h = ((payload(bs6 + 42) & 0xff) << 8) | (payload(bs6 + 43) & 0xff)
                  } else if (t6 == "stsz" && n >= 12) {
                    val fixed = rdBe32(payload, bs6 + 4)
                    val cnt = rdBe32(payload, bs6 + 8)
                    if (cnt >= 0 && cnt <= 65536 &&
                        (fixed != 0L || 12 + cnt * 4 <= n)) {
                      sizes = Array.tabulate(cnt.toInt)(i =>
                        if (fixed != 0L) fixed
                        else rdBe32(payload, bs6 + 12 + i * 4))
                    }
                  } else if (t6 == "stco" && n >= 8) {
                    val cnt = rdBe32(payload, bs6 + 4)
                    if (cnt >= 0 && cnt <= 65536 && 8 + cnt * 4 <= n)
                      chunkOffs = Array.tabulate(cnt.toInt)(i =>
                        rdBe32(payload, bs6 + 8 + i * 4))
                  } else if (t6 == "co64" && n >= 8) {
                    val cnt = rdBe32(payload, bs6 + 4)
                    if (cnt >= 0 && cnt <= 65536 && 8 + cnt * 8 <= n)
                      chunkOffs = Array.tabulate(cnt.toInt)(i =>
                        rdBe64(payload, bs6 + 8 + i * 8))
                  } else if (t6 == "stsc" && n >= 8) {
                    val cnt = rdBe32(payload, bs6 + 4)
                    if (cnt >= 0 && cnt <= 65536 && 8 + cnt * 12 <= n)
                      stscRuns = Array.tabulate(cnt.toInt)(i =>
                        (rdBe32(payload, bs6 + 8 + i * 12),
                          rdBe32(payload, bs6 + 12 + i * 12)))
                  }
                }
              }
            }
          }
        }
      }
    }
    if (sizes == null || chunkOffs == null || stscRuns == null ||
        sizes.isEmpty || chunkOffs.isEmpty || stscRuns.isEmpty) return Nil
    if (w <= 0 || h <= 0 || w > 16384 || h > 16384) return Nil
    // Resolve sample byte ranges: per chunk, the samples-per-chunk run
    // in effect is the last stsc entry with first_chunk <= chunk.
    val ranges = Seq.newBuilder[(Long, Long)] // (offset, size)
    var sample = 0
    var chunk = 0
    while (chunk < chunkOffs.length && sample < sizes.length) {
      var spc = 0L
      stscRuns.foreach { case (fc, s) => if (fc <= chunk + 1) spc = s }
      if (spc <= 0L || spc > sizes.length) return Nil
      var off = chunkOffs(chunk)
      var i = 0L
      while (i < spc && sample < sizes.length) {
        val sz = sizes(sample)
        if (off < 0L || sz < 0L || sz > Int.MaxValue ||
            off + sz > payload.length) return Nil
        ranges += ((off, sz))
        off += sz; sample += 1; i += 1
      }
      chunk += 1
    }
    val frames = Seq.newBuilder[java.awt.image.BufferedImage]
    ranges.result().foreach { case (off, sz) =>
      val o = off.toInt; val n = sz.toInt
      if (fmt == "raw " && n >= w * 3 * h) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = o + (y * w + x) * 3
            val r = payload(p) & 0xff
            val g = payload(p + 1) & 0xff
            val b = payload(p + 2) & 0xff
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        frames += img
      } else if (n >= 2 && (payload(o) & 0xff) == 0xff &&
          (payload(o + 1) & 0xff) == 0xd8) {
        decodeImage(java.util.Arrays.copyOfRange(payload, o, o + n))
          .foreach(frames += _)
      }
    }
    frames.result()
  } catch {
    case scala.util.control.NonFatal(_) => Nil
  }

  /** Real MP4 containers whose geometry AND frame pixels derive only
    * from (id, text length) — the ISO-BMFF twin of
    * [[syntheticAviVideos]] (same geometry and pixel rules, so the
    * same external oracle applies): [[videoFrames]] resolves the
    * sample tables and unpacks the `raw ` RGB24 samples back. */
  def syntheticMp4Videos(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = Encoders.row(mediaSchema)
    df.select(col(idCol).cast("long").as("media_id"),
        length(col(textCol)).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val payload = buildMp4Frames(
            width = 8 + n % 9,
            height = 6 + (id % 7).toInt,
            nFrames = 1 + (id % 3).toInt)
          Row(id, "video", payload, Row("synthetic", "mp4"))
        }
      }(enc)
  }

  // ---- Matroska / WebM (EBML) ----------------------------------------------
  // Pure-JVM EBML walk per the Matroska spec (RFC 8794 EBML + the
  // public matroska.org element registry) — the variable-length twin
  // of [[walkBoxes]]/[[walkRiff]]. Reference has no video support at
  // all; this is extension surface for multimodal corpora.

  // EBML element IDs (marker bits retained, as they appear on the wire)
  private val EbmlHeader = 0x1A45DFA3L
  private val EbmlDocType = 0x4282L
  private val MkvSegment = 0x18538067L
  private val MkvInfo = 0x1549A966L
  private val MkvTimestampScale = 0x2AD7B1L
  private val MkvDuration = 0x4489L
  private val MkvTracks = 0x1654AE6BL
  private val MkvTrackEntry = 0xAEL
  private val MkvTrackNumber = 0xD7L
  private val MkvTrackType = 0x83L
  private val MkvCodecId = 0x86L
  private val MkvVideo = 0xE0L
  private val MkvPixelWidth = 0xB0L
  private val MkvPixelHeight = 0xBAL
  private val MkvCluster = 0x1F43B675L
  private val MkvSimpleBlock = 0xA3L

  /** Read an EBML element ID at off (IDs keep their length-marker bit).
    * Returns (id, nBytes); (-1, 0) on malformed input. */
  private def ebmlId(b: Array[Byte], off: Int, end: Int): (Long, Int) = {
    if (off >= end) return (-1L, 0)
    val first = b(off) & 0xff
    val len =
      if ((first & 0x80) != 0) 1 else if ((first & 0x40) != 0) 2
      else if ((first & 0x20) != 0) 3 else if ((first & 0x10) != 0) 4 else 0
    if (len == 0 || off + len > end) return (-1L, 0)
    var v = first.toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    (v, len)
  }

  /** Read an EBML data size at off (marker bit stripped, 1-8 bytes).
    * Returns (size, nBytes); size -1 encodes "unknown" (all value bits
    * set — legal only on Segment/Cluster, treated as to-end); (-2, 0)
    * on malformed input. */
  private def ebmlSize(b: Array[Byte], off: Int, end: Int): (Long, Int) = {
    if (off >= end) return (-2L, 0)
    val first = b(off) & 0xff
    var len = 1
    var mask = 0x80
    while (len <= 8 && (first & mask) == 0) { len += 1; mask >>= 1 }
    if (len > 8 || off + len > end) return (-2L, 0)
    var v = (first & (mask - 1)).toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    val allOnes = (1L << (7 * len)) - 1L
    (if (v == allOnes) -1L else v, len)
  }

  /** Iterate sibling EBML elements of [start, end): f(id, bodyStart,
    * bodyEnd). Stops on a malformed id/size; unknown-size elements
    * extend to the enclosing end. */
  private def walkEbml(b: Array[Byte], start: Int, end: Int)(
      f: (Long, Int, Int) => Unit): Unit = {
    var off = start
    while (off < end) {
      val (id, idLen) = ebmlId(b, off, end)
      if (idLen == 0) return
      val (sz, szLen) = ebmlSize(b, off + idLen, end)
      if (szLen == 0) return
      val bs = off + idLen + szLen
      val beL = if (sz < 0L) end.toLong else bs.toLong + sz
      if (beL > end || beL < bs) return
      val be = beL.toInt
      f(id, bs, be)
      off = be
    }
  }

  private def ebmlUint(b: Array[Byte], bs: Int, be: Int): Long = {
    if (be - bs > 8) return -1L
    var v = 0L
    var i = bs
    while (i < be) { v = (v << 8) | (b(i) & 0xff); i += 1 }
    v
  }

  private def ebmlFloat(b: Array[Byte], bs: Int, be: Int): Double =
    if (be - bs == 4) java.lang.Float.intBitsToFloat(rdBe32(b, bs).toInt).toDouble
    else if (be - bs == 8) java.lang.Double.longBitsToDouble(rdBe64(b, bs))
    else Double.NaN

  private def ebmlString(b: Array[Byte], bs: Int, be: Int): String = {
    // EBML strings may be zero-padded; the value ends at the first NUL
    var e = bs
    while (e < be && b(e) != 0) e += 1
    new String(b, bs, e - bs, "US-ASCII")
  }

  /** First video track of a Matroska payload: (trackNumber, codecId,
    * width, height), or None. Shared by [[parseMkv]] and
    * [[decodeMkvFrames]]. */
  private def mkvVideoTrack(b: Array[Byte], segStart: Int, segEnd: Int)
      : Option[(Long, String, Int, Int)] = {
    var found: Option[(Long, String, Int, Int)] = None
    walkEbml(b, segStart, segEnd) { (id, bs, be) =>
      if (id == MkvTracks && found.isEmpty) walkEbml(b, bs, be) { (id2, bs2, be2) =>
        if (id2 == MkvTrackEntry && found.isEmpty) {
          var num = -1L; var tpe = -1L; var codec = ""; var w = 0; var h = 0
          walkEbml(b, bs2, be2) { (id3, bs3, be3) =>
            if (id3 == MkvTrackNumber) num = ebmlUint(b, bs3, be3)
            else if (id3 == MkvTrackType) tpe = ebmlUint(b, bs3, be3)
            else if (id3 == MkvCodecId) codec = ebmlString(b, bs3, be3)
            else if (id3 == MkvVideo) walkEbml(b, bs3, be3) { (id4, bs4, be4) =>
              if (id4 == MkvPixelWidth) w = ebmlUint(b, bs4, be4).toInt
              else if (id4 == MkvPixelHeight) h = ebmlUint(b, bs4, be4).toInt
            }
          }
          if (tpe == 1L && num > 0L) found = Some((num, codec, w, h))
        }
      }
    }
    found
  }

  /** Real Matroska/WebM metadata parse — a pure-JVM EBML walk, no
    * codec: the EBML header's DocType picks "webm" vs "mkv",
    * `Segment/Info` yields TimestampScale (ns/tick, default 10^6) +
    * Duration (float ticks), and the first video TrackEntry yields
    * pixel dimensions. Returns None without an EBML header or a
    * Segment Duration. */
  def parseMkv(payload: Array[Byte]): Option[(String, Int, Int, Long)] = try {
    if (payload.length < 8) return None
    val (hid, _) = ebmlId(payload, 0, payload.length)
    if (hid != EbmlHeader) return None
    var docType = "matroska"
    var tsScale = 1000000L
    var durTicks = Double.NaN
    var w = 0; var h = 0
    var sawSegment = false
    walkEbml(payload, 0, payload.length) { (id, bs, be) =>
      if (id == EbmlHeader) walkEbml(payload, bs, be) { (id2, bs2, be2) =>
        if (id2 == EbmlDocType) docType = ebmlString(payload, bs2, be2)
      } else if (id == MkvSegment) {
        sawSegment = true
        walkEbml(payload, bs, be) { (id2, bs2, be2) =>
          if (id2 == MkvInfo) walkEbml(payload, bs2, be2) { (id3, bs3, be3) =>
            if (id3 == MkvTimestampScale) tsScale = ebmlUint(payload, bs3, be3)
            else if (id3 == MkvDuration) durTicks = ebmlFloat(payload, bs3, be3)
          }
        }
        mkvVideoTrack(payload, bs, be).foreach { case (_, _, tw, th) =>
          w = tw; h = th
        }
      }
    }
    if (!sawSegment || tsScale <= 0L || durTicks.isNaN || durTicks < 0.0) None
    else {
      val fmt = if (docType == "webm") "webm" else "mkv"
      Some((fmt, w, h, (durTicks * tsScale / 1e6).toLong))
    }
  } catch {
    case scala.util.control.NonFatal(_) => None
  }

  /** Minimal-length EBML data-size encoding of v (v >= 0). */
  private def ebmlSizeBytes(v: Long): Array[Byte] = {
    var len = 1
    while (len < 8 && v >= (1L << (7 * len)) - 1L) len += 1
    val out = new Array[Byte](len)
    var i = len - 1
    var rest = v
    while (i >= 0) { out(i) = (rest & 0xff).toByte; rest >>>= 8; i -= 1 }
    out(0) = (out(0) | (0x80 >> (len - 1))).toByte
    out
  }

  private def ebmlIdBytes(id: Long): Array[Byte] = {
    val len = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
      else if (id <= 0xffffffL) 3 else 4
    val out = new Array[Byte](len)
    var i = len - 1
    var rest = id
    while (i >= 0) { out(i) = (rest & 0xff).toByte; rest >>>= 8; i -= 1 }
    out
  }

  /** EBML element from raw body parts — the construction twin of
    * [[walkEbml]]. */
  private def ebmlEl(id: Long, body: Array[Byte]*): Array[Byte] = {
    val n = body.map(_.length).sum
    val idB = ebmlIdBytes(id)
    val szB = ebmlSizeBytes(n.toLong)
    val out = new Array[Byte](idB.length + szB.length + n)
    System.arraycopy(idB, 0, out, 0, idB.length)
    System.arraycopy(szB, 0, out, idB.length, szB.length)
    var off = idB.length + szB.length
    body.foreach { b => System.arraycopy(b, 0, out, off, b.length); off += b.length }
    out
  }

  /** Shortest big-endian unsigned encoding of v (>= 1 byte). */
  private def ebmlUintBytes(v: Long): Array[Byte] = {
    var len = 1
    while (len < 8 && (v >>> (8 * len)) != 0L) len += 1
    val out = new Array[Byte](len)
    var i = len - 1
    var rest = v
    while (i >= 0) { out(i) = (rest & 0xff).toByte; rest >>>= 8; i -= 1 }
    out
  }

  /** A structurally valid Matroska container carrying REAL frames:
    * EBML header (DocType matroska) + Segment(Info(TimestampScale,
    * Duration), Tracks(video TrackEntry), Cluster(Timestamp,
    * SimpleBlock per frame)). Default codec is `V_UNCOMPRESSED`
    * top-down RGB24 (no padding) with the SAME deterministic pixel
    * rule as [[buildAvi]]/[[buildMp4Frames]] — r = g = b =
    * (x*31 + y*17 + f*29) & 0xff — so an external oracle recomputes
    * frame statistics without a codec; `mjpeg = true` emits real
    * ImageIO JPEG samples under `V_MJPEG` instead (lossy, verified
    * in-JVM only). Each SimpleBlock is keyframe-flagged, unlaced,
    * track 1, timestamped f*1000/fps ms. */
  def buildMkv(width: Int, height: Int, nFrames: Int, fps: Int = 10,
      mjpeg: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames >= 0 && fps > 0,
      s"invalid MKV geometry: ${width}x$height x$nFrames @${fps}fps")
    def pixel(x: Int, y: Int, f: Int): Int = (x * 31 + y * 17 + f * 29) & 0xff
    val frames: Seq[Array[Byte]] = (0 until nFrames).map { f =>
      if (mjpeg) {
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val v = pixel(x, y, f)
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      } else {
        val b = new Array[Byte](width * 3 * height)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val v = pixel(x, y, f).toByte
            val p = (y * width + x) * 3
            b(p) = v; b(p + 1) = v; b(p + 2) = v
            x += 1
          }
          y += 1
        }
        b
      }
    }
    val durationMs = nFrames.toLong * 1000L / fps
    val header = ebmlEl(EbmlHeader,
      ebmlEl(0x4286L, ebmlUintBytes(1L)),      // EBMLVersion
      ebmlEl(0x42F7L, ebmlUintBytes(1L)),      // EBMLReadVersion
      ebmlEl(0x42F2L, ebmlUintBytes(4L)),      // EBMLMaxIDLength
      ebmlEl(0x42F3L, ebmlUintBytes(8L)),      // EBMLMaxSizeLength
      ebmlEl(EbmlDocType, "matroska".getBytes("US-ASCII")),
      ebmlEl(0x4287L, ebmlUintBytes(4L)),      // DocTypeVersion
      ebmlEl(0x4285L, ebmlUintBytes(2L)))      // DocTypeReadVersion
    val info = ebmlEl(MkvInfo,
      ebmlEl(MkvTimestampScale, ebmlUintBytes(1000000L)),
      ebmlEl(MkvDuration, {
        val b = new Array[Byte](8)
        val bits = java.lang.Double.doubleToLongBits(durationMs.toDouble)
        var i = 0
        while (i < 8) { b(i) = ((bits >>> (56 - 8 * i)) & 0xff).toByte; i += 1 }
        b
      }))
    val tracks = ebmlEl(MkvTracks,
      ebmlEl(MkvTrackEntry,
        ebmlEl(MkvTrackNumber, ebmlUintBytes(1L)),
        ebmlEl(0x73C5L, ebmlUintBytes(1L)),    // TrackUID
        ebmlEl(MkvTrackType, ebmlUintBytes(1L)),
        ebmlEl(MkvCodecId,
          (if (mjpeg) "V_MJPEG" else "V_UNCOMPRESSED").getBytes("US-ASCII")),
        ebmlEl(MkvVideo,
          ebmlEl(MkvPixelWidth, ebmlUintBytes(width.toLong)),
          ebmlEl(MkvPixelHeight, ebmlUintBytes(height.toLong)))))
    val blocks = frames.zipWithIndex.map { case (fb, f) =>
      val ts = (f.toLong * 1000L / fps).toInt
      val head = Array[Byte](0x81.toByte,             // track 1 as VINT
        ((ts >> 8) & 0xff).toByte, (ts & 0xff).toByte, // s16 rel. timestamp
        0x80.toByte)                                   // keyframe, no lacing
      ebmlEl(MkvSimpleBlock, head, fb)
    }
    val cluster = ebmlEl(MkvCluster,
      (ebmlEl(0xE7L, ebmlUintBytes(0L)) +: blocks): _*) // Timestamp 0
    val segment = ebmlEl(MkvSegment, info, tracks, cluster)
    header ++ segment
  }

  /** REAL frame-pixel decode of a Matroska payload — the EBML twin of
    * [[decodeAviFrames]]/[[decodeMp4Frames]]: resolve the first video
    * TrackEntry (number, CodecID, dimensions), then walk
    * Segment/Cluster/SimpleBlock, keep unlaced blocks of that track,
    * and decode: `V_UNCOMPRESSED` bodies unpack directly (top-down
    * RGB24) and `V_MJPEG`/JPEG-magic bodies go through the hardened
    * ImageIO path ([[decodeImage]], 16384^2 pre-check). Claimed
    * geometry is capped (16384^2) and the frame count capped (65536)
    * BEFORE any allocation; a malformed EBML tree fails closed. */
  def decodeMkvFrames(payload: Array[Byte]): Seq[java.awt.image.BufferedImage] = try {
    if (payload.length < 8) return Nil
    val (hid, _) = ebmlId(payload, 0, payload.length)
    if (hid != EbmlHeader) return Nil
    var track: Option[(Long, String, Int, Int)] = None
    var segRange: Option[(Int, Int)] = None
    walkEbml(payload, 0, payload.length) { (id, bs, be) =>
      if (id == MkvSegment && segRange.isEmpty) {
        segRange = Some((bs, be))
        track = mkvVideoTrack(payload, bs, be)
      }
    }
    if (track.isEmpty || segRange.isEmpty) return Nil
    val (num, codec, w, h) = track.get
    if (w <= 0 || h <= 0 || w > 16384 || h > 16384) return Nil
    val (segS, segE) = segRange.get
    val frames = Seq.newBuilder[java.awt.image.BufferedImage]
    var nFrames = 0
    walkEbml(payload, segS, segE) { (id, bs, be) =>
      if (id == MkvCluster) walkEbml(payload, bs, be) { (id2, bs2, be2) =>
        if (id2 == MkvSimpleBlock && nFrames < 65536) {
          // block layout: track VINT, s16 timestamp, u8 flags, data
          val (bTrack, tLen) = ebmlSize(payload, bs2, be2)
          val dataS = bs2 + tLen + 3
          if (tLen > 0 && bTrack == num && dataS <= be2) {
            val flags = payload(bs2 + tLen + 2) & 0xff
            if ((flags & 0x06) == 0) { // unlaced only
              val n = be2 - dataS
              if (codec == "V_UNCOMPRESSED" && n >= w * 3 * h) {
                val img = new java.awt.image.BufferedImage(
                  w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val p = dataS + (y * w + x) * 3
                    val r = payload(p) & 0xff
                    val g = payload(p + 1) & 0xff
                    val b = payload(p + 2) & 0xff
                    img.setRGB(x, y, (r << 16) | (g << 8) | b)
                    x += 1
                  }
                  y += 1
                }
                frames += img
                nFrames += 1
              } else if (n >= 2 && (payload(dataS) & 0xff) == 0xff &&
                  (payload(dataS + 1) & 0xff) == 0xd8) {
                decodeImage(java.util.Arrays.copyOfRange(payload, dataS, be2))
                  .foreach { img => frames += img; nFrames += 1 }
              }
            }
          }
        }
      }
    }
    frames.result()
  } catch {
    case scala.util.control.NonFatal(_) => Nil
  }

  /** Real Matroska containers whose geometry AND frame pixels derive
    * only from (id, text length) — the EBML twin of
    * [[syntheticAviVideos]]/[[syntheticMp4Videos]] (same geometry and
    * pixel rules, so the same external oracle applies):
    * [[videoFrames]] resolves the SimpleBlocks and unpacks the
    * V_UNCOMPRESSED RGB24 bodies back. */
  def syntheticMkvVideos(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = Encoders.row(mediaSchema)
    df.select(col(idCol).cast("long").as("media_id"),
        length(col(textCol)).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val payload = buildMkv(
            width = 8 + n % 9,
            height = 6 + (id % 7).toInt,
            nFrames = 1 + (id % 3).toInt)
          Row(id, "video", payload, Row("synthetic", "mkv"))
        }
      }(enc)
  }

  // ---- real JDK codecs (javax.imageio / javax.sound.sampled) --------------

  /** Real image probe via ImageIO: (format, width, height) without a
    * full pixel decode (the reader reads only the header it needs). */
  def probeImage(payload: Array[Byte]): Option[(String, Int, Int)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          Some((r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0)))
        } finally r.dispose()
      }
    } catch { case _: Exception => None } finally iis.close()
  }

  /** Real full-pixel image decode via ImageIO, geometry-capped: the
    * header is probed FIRST (no pixel allocation) and any image whose
    * declared dimensions exceed `maxDim` is rejected before ImageIO
    * ever allocates a raster. Without the pre-check a tiny crafted
    * JPEG claiming ~65500x65500 would make ImageIO attempt a multi-GB
    * allocation from its own SOF header — an OutOfMemoryError no
    * NonFatal catch sees — despite the container-level avih bounds
    * (MJPEG 'dc' frames carry their OWN dimensions). */
  def decodeImage(payload: Array[Byte],
      maxDim: Int = 16384): Option[java.awt.image.BufferedImage] =
    probeImage(payload) match {
      case Some((_, w, h)) if w > 0 && h > 0 && w <= maxDim && h <= maxDim =>
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
        catch { case _: Exception => None }
      case _ => None
    }

  /** The javax.sound SPI providers, resolved ONCE per JVM.
    * `AudioSystem.getAudioInputStream` / `getAudioFileFormat` re-run
    * `JSSecurityManager.getProviders` on EVERY call — a synchronized
    * classpath/provider scan (plus `Class.forName` per provider) that
    * thread dumps showed as the dominant blocked state of the audio
    * decode stages at 32 concurrent tasks (t129/t134: 147 BLOCKED
    * samples on its lock, 61 in the scan itself). Calling the same
    * provider objects directly decodes identical bytes identically;
    * only the per-call registry scan disappears. Lookup semantics
    * below replicate AudioSystem's exactly: first reader that does not
    * throw UnsupportedAudioFileException wins (readers reset the
    * stream on failure per the SPI contract); a conversion returns the
    * source stream verbatim when the format already matches, else the
    * first provider supporting the conversion. */
  private lazy val audioFileReaders
      : Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    // MIDI-backed readers LAST: SoftMidiAudioFileReader's accept path
    // re-runs MidiSystem.getProviders — the same synchronized registry
    // scan this cache exists to avoid — before it even looks at the
    // bytes. The JDK readers accept DISJOINT magics (RIFF/WAVE,
    // FORM/AIFF, .snd, MThd), so exactly one reader family can accept
    // a given payload and try-order cannot change which result is
    // returned — only how often the MIDI scan runs. Combined with the
    // magic gate in [[audioStreamOf]]/[[audioFileFormatOf]] the scan
    // runs only for payloads that really are MIDI-shaped.
    val (midi, other) = buf.toArray.partition(
      _.getClass.getName.toLowerCase.contains("midi"))
    other ++ midi
  }

  /** True when `payload` could possibly be a MIDI container (standard
    * `MThd` or a `RIFF`-wrapped RMID) — everything a JDK MIDI file
    * reader can accept starts with one of these magics, so skipping
    * the MIDI readers for other payloads is behavior-preserving while
    * avoiding their per-call provider registry scan. */
  private def maybeMidi(payload: Array[Byte]): Boolean =
    payload.length >= 4 && {
      val a = payload(0); val b = payload(1); val c = payload(2); val d = payload(3)
      (a == 'M' && b == 'T' && c == 'h' && d == 'd') ||
      (a == 'R' && b == 'I' && c == 'F' && d == 'F')
    }

  /** The javax.sound format-conversion providers, resolved once per
    * JVM like [[audioFileReaders]] (the same per-call registry scan,
    * for [[audioConvert]]). Bounded: the array never grows after
    * first use, and its size is the number of installed
    * `FormatConversionProvider` SPI implementations. */
  private lazy val audioConversionProviders
      : Array[javax.sound.sampled.spi.FormatConversionProvider] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.FormatConversionProvider]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.FormatConversionProvider]
    while (it.hasNext) buf += it.next()
    buf.toArray
  }

  /** `AudioSystem.getAudioInputStream(stream)` minus the per-call
    * provider scan, over a payload we can magic-gate. */
  private def audioStreamOf(payload: Array[Byte])
      : javax.sound.sampled.AudioInputStream = {
    val in = new java.io.ByteArrayInputStream(payload)
    val midiOk = maybeMidi(payload)
    var i = 0
    while (i < audioFileReaders.length) {
      val r = audioFileReaders(i)
      if (midiOk || !r.getClass.getName.toLowerCase.contains("midi")) {
        try return r.getAudioInputStream(in)
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** `AudioSystem.getAudioFileFormat(stream)` minus the per-call
    * provider scan, over a payload we can magic-gate. */
  private def audioFileFormatOf(payload: Array[Byte])
      : javax.sound.sampled.AudioFileFormat = {
    val in = new java.io.ByteArrayInputStream(payload)
    val midiOk = maybeMidi(payload)
    var i = 0
    while (i < audioFileReaders.length) {
      val r = audioFileReaders(i)
      if (midiOk || !r.getClass.getName.toLowerCase.contains("midi")) {
        try return r.getAudioFileFormat(in)
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** `AudioSystem.getAudioInputStream(target, source)` minus the
    * per-call provider scan. */
  private def audioConvert(target: javax.sound.sampled.AudioFormat,
      source: javax.sound.sampled.AudioInputStream)
      : javax.sound.sampled.AudioInputStream = {
    if (source.getFormat.matches(target)) return source
    var i = 0
    while (i < audioConversionProviders.length) {
      val p = audioConversionProviders(i)
      if (p.isConversionSupported(target, source.getFormat))
        return p.getAudioInputStream(target, source)
      i += 1
    }
    throw new IllegalArgumentException(
      s"Unsupported conversion: $target from ${source.getFormat}")
  }

  /** Real audio probe via javax.sound.sampled: (format, duration_ms). */
  def probeAudio(payload: Array[Byte]): Option[(String, Long)] =
    try {
      val aff = audioFileFormatOf(payload)
      val frames = aff.getFrameLength
      val rate = aff.getFormat.getFrameRate
      val dur =
        if (frames < 0 || rate <= 0f) 0L
        else (frames.toDouble * 1000.0 / rate).toLong
      Some((aff.getType.getExtension.toLowerCase, dur))
    } catch { case _: Exception => None }

  /** STUB codec — last-resort fallback only. MP4 metadata is parsed
    * for real by [[parseMp4]], AVI by [[parseAvi]], Matroska/WebM by
    * [[parseMkv]]; frame PIXELS by [[decodeAviFrames]] (raw BI_RGB +
    * MJPEG), [[decodeMp4Frames]] (sample tables, `raw ` + MJPEG) and
    * [[decodeMkvFrames]] (V_UNCOMPRESSED + V_MJPEG). What remains here
    * is payloads NO probe recognizes at all (a compressed H.264/VP8/
    * VP9 clip in a known container still gets real metadata from the
    * container walk — only its frame decode is out of scope, the
    * documented permanent boundary under the offline-jars
    * constraint). Deterministic fake, clearly marked. */
  private def fakeDecode(kind: String, payload: Array[Byte]): (String, Int, Int, Long) = {
    val h = java.util.Arrays.hashCode(payload)
    val fmt = kind match {
      case "image" => "bin"
      case "audio" => "bin"
      case _ => "mp4"
    }
    val w = 64 + math.abs(h % 1024)
    val hgt = 64 + math.abs((h / 7) % 1024)
    val dur = if (kind == "image") 0L else 1000L + math.abs(h % 60000).toLong
    (fmt, w, hgt, dur)
  }

  /** Decode/probe stage: per-partition batch iteration over binary
    * payloads (the Scala analogue of a mapInPandas batch UDF) emitting
    * typed metadata. No shuffle — partitioning is preserved.
    *
    * Codec ladder per payload: pure-JVM BMP/WAV header parse (cheapest,
    * oracle-recomputable) -> ImageIO probe -> audio probe -> the video
    * STUB for anything the JVM cannot decode. */
  def decode(media: DataFrame): DataFrame = {
    val enc = Encoders.row(decodedSchema)
    media.select("media_id", "kind", "payload").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0); val kind = r.getString(1)
        val payload = r.getAs[Array[Byte]](2)
        val (fmt, w, h, dur) = parseContainer(payload)
          .orElse(probeImage(payload).map { case (f, w, h) => (f, w, h, 0L) })
          .orElse(probeAudio(payload).map { case (f, d) => (f, 0, 0, d) })
          .getOrElse(fakeDecode(kind, payload))
        Row(id, kind, payload.length.toLong, fmt, w, h, dur)
      }
    }(enc)
  }

  /** Grayscale value (0..255) of a pixel in sRGB int packing. */
  @inline private def gray(rgb: Int): Double =
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)

  /** Per-thread destination cache for [[withResampled]], keyed by (w, h).
    * Creating a BufferedImage surface takes the GLOBAL
    * `sun.java2d.Disposer` lock (`BufImgSurfaceData.initRaster` ->
    * `Disposer.addRecord`) — at 32 concurrent tasks the image kernels
    * serialized on it (r18 thread-dump census: 25/69 BLOCKED task
    * samples on that monitor during the multimodal family). Reusing
    * one destination per thread and size pays the surface creation
    * once per (thread, size) instead of once per IMAGE; the raster is
    * zero-filled before every reuse, which is exactly a fresh
    * TYPE_INT_RGB image's state (opaque black), so the rendered
    * pixels — including alpha-source blends — are bit-identical to
    * the old allocate-per-call path.
    *
    * Bounded: an access-order LRU of at most [[ResampleDstMax]]
    * destinations per thread, so a caller resizing to many distinct
    * sizes holds a few buffers per executor thread, not one per size
    * ever seen. The hot hash/embed paths use one or two sizes. */
  private val ResampleDstMax = 4
  private val resampleDst =
    new ThreadLocal[java.util.LinkedHashMap[java.lang.Long, java.awt.image.BufferedImage]] {
      override def initialValue()
          : java.util.LinkedHashMap[java.lang.Long, java.awt.image.BufferedImage] =
        new java.util.LinkedHashMap[java.lang.Long, java.awt.image.BufferedImage](
            8, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[
              java.lang.Long, java.awt.image.BufferedImage]): Boolean =
            size() > ResampleDstMax
        }
    }

  /** Destinations the calling thread currently holds (eviction spec). */
  private[multimodal] def resampleDstSize: Int = resampleDst.get().size

  /** Headless resample to w x h via Graphics2D (BufferedImage targets
    * never need a display), handed to `use`. The image is the calling
    * thread's REUSED per-size destination ([[resampleDst]]), valid only
    * inside `use`: consume the pixels (hash/patch/PNG-encode) there and
    * return a value that does not alias it. */
  private[multimodal] def withResampled[A](img: java.awt.image.BufferedImage, w: Int,
      h: Int)(use: java.awt.image.BufferedImage => A): A = {
    val key = java.lang.Long.valueOf((w.toLong << 32) | (h.toLong & 0xffffffffL))
    val cache = resampleDst.get()
    var out = cache.get(key)
    if (out == null) {
      out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      cache.put(key, out)
    } else {
      java.util.Arrays.fill(out.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferInt].getData, 0)
    }
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    use(out)
  }

  /** Feature-extraction stage: fixed-size embedding per payload, REAL
    * for everything the JVM can decode.
    *
    *  - images: decoded pixels resampled to a sqrt(dim) x sqrt(dim)
    *    gray patch, values scaled to [0,1] — the classic tiny-thumbnail
    *    visual descriptor;
    *  - audio: 16-bit PCM mean-absolute-amplitude over `dim` equal time
    *    buckets, scaled to [0,1];
    *  - undecodable payloads: deterministic content-hash pseudo-vector,
    *    so the pipeline shape is total.
    *
    * A learned model would replace the per-payload function only; the
    * batch shape (per-partition iteration, Array[Float] column) is what
    * a 100 TB pipeline actually exercises. */
  def embed(media: DataFrame, dim: Int = 16): DataFrame = {
    // The image descriptor is a sqrt(dim) x sqrt(dim) gray patch, so dim
    // must be a perfect square — for any other dim the flat index would
    // silently wrap and duplicate row-0 pixels in the tail slots.
    val side = math.max(1, math.sqrt(dim.toDouble).toInt)
    require(side * side == dim,
      s"embed dim must be a perfect square (got $dim); the image path " +
        s"samples a sqrt(dim) x sqrt(dim) gray patch")
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val enc = Encoders.row(schema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val fromImage = decodeImage(payload).map { img =>
          withResampled(img, side, side) { p =>
            Array.tabulate(dim) { i =>
              (gray(p.getRGB(i % side, (i / side) % side)) / 255.0).toFloat
            }
          }
        }
        def fromAudio = pcmSamples(payload).filter(_.nonEmpty).map { s =>
          Array.tabulate(dim) { i =>
            val lo = (i.toLong * s.length / dim).toInt
            val hi = math.max(lo + 1, ((i + 1).toLong * s.length / dim).toInt)
            var sum = 0.0; var j = lo
            while (j < hi) { sum += math.abs(s(j).toDouble); j += 1 }
            (sum / (hi - lo) / 32768.0).toFloat
          }
        }
        val vec = fromImage.orElse(fromAudio).getOrElse {
          val rng = new scala.util.Random(java.util.Arrays.hashCode(payload).toLong)
          Array.fill(dim)(rng.nextFloat())
        }
        Row(id, vec.toSeq)
      }
    }(enc)
  }

  /** Real 16-bit PCM sample extraction via javax.sound.sampled (first
    * channel; converts to signed 16-bit PCM if the source differs). */
  def pcmSamples(payload: Array[Byte]): Option[Array[Short]] =
    try {
      val in = audioStreamOf(payload)
      try {
        val fmt = in.getFormat
        val target = new javax.sound.sampled.AudioFormat(
          fmt.getSampleRate, 16, fmt.getChannels, true, false)
        val pcm = audioConvert(target, in)
        val bytes = pcm.readAllBytes()
        val step = 2 * fmt.getChannels
        val n = bytes.length / step
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = ((bytes(i * step) & 0xff) | (bytes(i * step + 1) << 8)).toShort
          i += 1
        }
        Some(out)
      } finally in.close()
    } catch { case _: Exception => None }

  /** Audio-CONTENT extraction stage: one row per fixed-size sample
    * window of each decodable audio payload, with the window's RMS
    * level and absolute peak — real PCM through the javax.sound codec
    * ([[pcmSamples]]), the audio twin of [[videoFrames]]' frame-pixel
    * rows. Non-audio payloads emit no rows. The RMS is computed from
    * an EXACT long sum of squares and 6-dp rounded, so an external
    * oracle recomputing from the synthetic generation rule compares
    * bit-identically regardless of summation order. Scale shape:
    * per-partition map with a bounded per-row fan-out (nSamples /
    * windowSamples rows per clip), no shuffle. */
  def audioWindows(media: DataFrame, windowSamples: Int = 1000): DataFrame = {
    require(windowSamples > 0,
      s"windowSamples must be positive, got $windowSamples")
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("win_idx", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("rms", DoubleType),
      StructField("peak", IntegerType)))
    val enc = Encoders.row(schema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        pcmSamples(r.getAs[Array[Byte]](1)).filter(_.nonEmpty).toSeq
          .flatMap { s =>
            s.grouped(windowSamples).zipWithIndex.map { case (w, wi) =>
              var sumsq = 0L
              var peak = 0
              var j = 0
              while (j < w.length) {
                val v = w(j).toInt
                sumsq += v.toLong * v
                if (math.abs(v) > peak) peak = math.abs(v)
                j += 1
              }
              val rms =
                math.round(math.sqrt(sumsq.toDouble / w.length) * 1e6) / 1e6
              Row(id, wi, w.length, rms, peak)
            }
          }
      }
    }(enc)
  }

  /** 64-bit audio ENERGY-ENVELOPE fingerprint — the audio sibling of
    * [[imageHash]]: real PCM decode ([[pcmSamples]]), the first 16
    * 1000-sample windows' RMS levels quantized to 4 bits each
    * (`min(15, round(rms) / 256)`) and packed window-w-at-bits
    * [4w, 4w+4) — a coarse loudness profile that survives re-encoding
    * and small amplitude noise (the dominant duplicate classes for
    * crawled audio: same clip re-uploaded, transcoded, or gain-shifted
    * below a level step). Non-audio / undecodable payloads emit a null
    * fingerprint. Per-partition map with no shuffle; clips shorter
    * than 16 windows leave the high nibbles 0 (duration is part of
    * the profile). */
  def audioFingerprint(media: DataFrame): DataFrame = fingerprint(media, "audio")

  /** Per-payload core of [[audioFingerprint]] — shared with the
    * streaming twin ([[graft.streaming.MediaStreams]]). */
  def audioFingerprintOf(payload: Array[Byte], windowSamples: Int = 1000,
      levelStep: Int = 256): Option[Long] =
    pcmSamples(payload).filter(_.nonEmpty).map { s =>
      var acc = 0L
      var w = 0
      while (w < 16 && w * windowSamples < s.length) {
        val from = w * windowSamples
        val until = math.min(s.length, from + windowSamples)
        var sumsq = 0L
        var j = from
        while (j < until) {
          val v = s(j).toInt; sumsq += v.toLong * v; j += 1
        }
        val rms = math.sqrt(sumsq.toDouble / (until - from))
        val level = math.min(15L, math.round(rms) / levelStep)
        acc |= level << (4 * w)
        w += 1
      }
      acc
    }

  /** Planted near-duplicate audio classes over [[buildSquareWav]] —
    * [[syntheticPatternBmps]]' audio twin: five consecutive ids share
    * one md5-derived 60-bit envelope pattern (`cls = id / 5`), member
    * `id % 5 = p` XORs in the low-p-bit mask, window w's amplitude is
    * `nibble_w * 256 + 128` (mid-cell, so quantization recovers the
    * nibble exactly). [[audioFingerprint]] over the REAL codec path
    * provably equals the planted pattern, making the whole
    * band-join + Hamming + CC chain externally SQL-recomputable. */
  def syntheticEnvelopeWavs(df: DataFrame, idCol: String): DataFrame =
    plantedPatterns(df, idCol, "audcls") { (id, pattern) =>
      val amps = (0 until 16).map(w =>
        ((pattern >>> (4 * w)) & 0xfL).toInt * 256 + 128)
      Row(id, "audio", buildSquareWav(amps), Row("synthetic", "wav"))
    }

  /** 64-bit video LUMINANCE-ENVELOPE fingerprint — the video sibling
    * of [[imageHash]]/[[audioFingerprint]]: real container walk +
    * frame decode ([[decodeAviFrames]]/[[decodeMp4Frames]]/
    * [[decodeMkvFrames]]), the first 16 frames' mean grays quantized
    * to 4 bits each (`round(mean) / 16`) and packed frame-f-at-bits
    * [4f, 4f+4) — the coarse brightness profile that survives
    * container swaps and re-encodes (the dominant duplicate classes
    * for crawled video: same clip remuxed or re-encoded). Undecodable
    * payloads emit a null fingerprint; clips shorter than 16 frames
    * leave the high nibbles 0 (length is part of the profile).
    * Per-partition map, no shuffle. */
  def videoFingerprint(media: DataFrame): DataFrame = fingerprint(media, "video")

  /** Per-payload core of [[videoFingerprint]] — shared with the
    * streaming twin ([[graft.streaming.MediaStreams]]). */
  def videoFingerprintOf(payload: Array[Byte]): Option[Long] = {
    val decoded = {
      val avi = decodeAviFrames(payload)
      if (avi.nonEmpty) avi
      else {
        val mp4 = decodeMp4Frames(payload)
        if (mp4.nonEmpty) mp4 else decodeMkvFrames(payload)
      }
    }
    if (decoded.isEmpty) None
    else Some {
      var acc = 0L
      decoded.take(16).zipWithIndex.foreach { case (img, f) =>
        val fw = img.getWidth; val fh = img.getHeight
        var sum = 0.0
        var y = 0
        while (y < fh) {
          var x = 0
          while (x < fw) { sum += gray(img.getRGB(x, y)); x += 1 }
          y += 1
        }
        val level =
          math.min(15L, math.round(sum / (fw.toLong * fh)) / 16)
        acc |= level << (4 * f)
      }
      acc
    }
  }

  /** Planted near-duplicate video classes over [[buildMp4FramesWith]]
    * — [[syntheticPatternBmps]]' video twin: five consecutive ids
    * share one md5-derived 60-bit envelope pattern (`cls = id / 5`),
    * member `id % 5 = p` XORs in the low-p-bit mask, frame f is a
    * constant-luminance plane `nibble_f * 16 + 8` (mid-cell, so the
    * decoded mean-gray quantization recovers the nibble exactly).
    * [[videoFingerprint]] over the REAL sample-table walk provably
    * equals the planted pattern — the whole band join + Hamming + CC
    * chain is externally SQL-recomputable while Spark still earns it
    * through real ISO-BMFF bytes and raw RGB24 frame decode. */
  def syntheticPatternMp4s(df: DataFrame, idCol: String): DataFrame =
    plantedPatterns(df, idCol, "vidcls") { (id, pattern) =>
      val payload = buildMp4FramesWith(8, 6, 16, 10, mjpeg = false,
        (_, _, f) => (((pattern >>> (4 * f)) & 0xfL).toInt << 4) | 8)
      Row(id, "video", payload, Row("synthetic", "mp4"))
    }

  /** Real image resize: decode -> bilinear resample -> re-encode PNG.
    * Rows whose payload is not a decodable image pass through with a
    * null resized column (total function, no task failure). */
  def resizeImages(media: DataFrame, width: Int, height: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("resized", BinaryType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)))
    val enc = Encoders.row(schema)
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val png = decodeImage(r.getAs[Array[Byte]](1)).map { img =>
          val bos = new java.io.ByteArrayOutputStream()
          withResampled(img, width, height)(
            javax.imageio.ImageIO.write(_, "png", bos))
          bos.toByteArray
        }
        Row(id, png.orNull, width, height)
      }
    }(enc)
  }

  /** 64-bit average-hash image fingerprint (aHash): 8x8 gray resample,
    * each bit = pixel above the patch mean. Hamming distance between
    * hashes is the standard near-duplicate-image signal; at scale,
    * group by hash (exact dups) or LSH over bit bands (near dups) —
    * the same bucketing machinery as the text MinHash track. Null for
    * undecodable payloads. */
  def imageHash(media: DataFrame): DataFrame = fingerprint(media, "image")

  /** Per-payload core of [[imageHash]]. */
  def imageHashOf(payload: Array[Byte]): Option[Long] =
    decodeImage(payload).map { img =>
      val g = withResampled(img, 8, 8)(p =>
        Array.tabulate(64)(i => gray(p.getRGB(i % 8, i / 8))))
      val mean = g.sum / 64.0
      g.zipWithIndex.foldLeft(0L) {
        case (acc, (v, i)) => if (v > mean) acc | (1L << i) else acc
      }
    }

  /** Fixed-point 8x8 DCT-II cosine table for [[imagePHash]]:
    * round(cos((2x+1) u pi / 16) * 2^14). ONE source of truth — the
    * DuckDB mirror interpolates these exact integers, so the hash can
    * never drift on transcendental-function bits. */
  val PhashCosTable: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
    math.round(math.cos((2 * x + 1) * u * math.Pi / 16.0) * 16384.0)
  }

  /** 64-bit DCT perceptual hash (pHash) — the industry-standard
    * near-duplicate image signature next to [[imageHash]]'s aHash:
    * 8x8 gray resample, EXACT fixed-point 8x8 DCT-II
    * ([[PhashCosTable]], integer multiply-accumulate end to end), then
    * each AC coefficient's bit (index v*8+u) is set iff the
    * coefficient exceeds the lower median of the 63 AC coefficients;
    * the DC bit (index 0) is always 0. Ranking DCT coefficients
    * against their own median makes the hash robust to global
    * brightness/contrast shifts that flip aHash bits near the mean,
    * while staying bit-identical across engines and platforms (all
    * integer arithmetic; ties AT the median are 0 in both engines).
    * Null for undecodable payloads. Near-dup pairs: filter the null
    * hashes and feed `bandedHammingPairs(sigs, "phash")` — the same
    * banded Hamming geometry. */
  def imagePHash(media: DataFrame): DataFrame =
    fingerprintFrame(media, "phash", imagePHashOf)

  /** Per-payload core of [[imagePHash]]. */
  def imagePHashOf(payload: Array[Byte]): Option[Long] =
    decodeImage(payload).map { img =>
      val ct = PhashCosTable
      val g = withResampled(img, 8, 8)(p =>
        Array.tabulate(64)(i => math.round(gray(p.getRGB(i % 8, i / 8)))))
      val dct = Array.ofDim[Long](64)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var acc = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              acc += g(y * 8 + x) * ct(u)(x) * ct(v)(y)
              x += 1
            }
            y += 1
          }
          dct(v * 8 + u) = acc
          v += 1
        }
        u += 1
      }
      val ac = java.util.Arrays.copyOfRange(dct, 1, 64)
      java.util.Arrays.sort(ac)
      val median = ac(31) // lower median of 63 AC coefficients
      var bits = 0L
      var i = 1
      while (i < 64) {
        if (dct(i) > median) bits |= (1L << i)
        i += 1
      }
      bits
    }

  /** The kind table: the one place a media kind picks its 64-bit
    * fingerprint and names its signature column — image -> `ahash`
    * ([[imageHashOf]]), audio -> `afp` ([[audioFingerprintOf]]), video
    * -> `vfp` ([[videoFingerprintOf]]). `windowSamples`/`levelStep`
    * are the audio envelope's quantization knobs (the streaming
    * operators expose them); image and video have none. */
  private[graft] def kindSignature(kind: String, windowSamples: Int = 1000,
      levelStep: Int = 256): (String, Array[Byte] => Option[Long]) =
    kind match {
      case "image" => ("ahash", imageHashOf _)
      case "audio" => ("afp", audioFingerprintOf(_, windowSamples, levelStep))
      case "video" => ("vfp", videoFingerprintOf _)
      case other => throw new IllegalArgumentException(
        s"unknown media kind '$other': expected one of image, audio, video")
    }

  /** The one fingerprint kernel: a per-partition map (no shuffle) from
    * (media_id, payload, passThrough...) to (media_id, sigCol,
    * passThrough...), where sigCol is `of(payload)` and null when the
    * payload does not decode. Every fingerprint frame — [[fingerprint]]
    * per kind, [[imagePHash]], and the streaming
    * [[graft.streaming.MediaStreams]] stage — is this map. */
  private[graft] def fingerprintFrame(media: DataFrame, sigCol: String,
      of: Array[Byte] => Option[Long], passThrough: String*): DataFrame = {
    val in = media.select("media_id", "payload" +: passThrough: _*)
    val enc = Encoders.row(StructType(StructField("media_id", LongType) +:
      StructField(sigCol, LongType) +: in.schema.fields.drop(2).toSeq))
    in.mapPartitions { rows =>
      rows.map { r =>
        val sig = of(r.getAs[Array[Byte]](1)).map(java.lang.Long.valueOf).orNull
        Row.fromSeq(r.getLong(0) +: sig +: (2 until r.length).map(r.get))
      }
    }(enc)
  }

  /** `kind`'s 64-bit fingerprint per media row: (media_id, sigCol) with
    * the column named by the kind table ([[kindSignature]]) and null
    * for undecodable payloads. Throws IllegalArgumentException for a
    * kind other than image, audio or video. */
  def fingerprint(media: DataFrame, kind: String): DataFrame = {
    val (sigCol, of) = kindSignature(kind)
    fingerprintFrame(media, sigCol, of)
  }

  /** Near-duplicate media pairs of one kind — the multimodal twin of
    * [[graft.text.TextOps.simhashNearDupPairs]]: the kind's 64-bit
    * fingerprints ([[fingerprint]] — real decoded pixels, PCM or
    * frames) with undecodable payloads dropped, band-bucketed by
    * [[bandedHammingPairs]] into 4 x 16-bit bands (pigeonhole: every
    * pair within Hamming distance 3 shares at least one band; raising
    * `maxHamming` above 3 trades recall exactly like text SimHash),
    * then an exact bit_count(xor) verify per candidate. Returns (a_id,
    * b_id, hamming) with hamming <= maxHamming. Cluster + drop
    * survivors by feeding the pairs to
    * [[graft.text.TextOps.nearDupClusters]] / `dropNearDuplicates` —
    * the same CC machinery as text.
    *
    * Scale shape: per-partition decode, then a banded candidate join —
    * never all-pairs; the signature frame is materialized once (the
    * pair build reads it three times). */
  def nearDups(media: DataFrame, kind: String, maxHamming: Int = 3): DataFrame = {
    val (sigCol, of) = kindSignature(kind)
    bandedHammingPairs(
      fingerprintFrame(media, sigCol, of)
        .filter(col(sigCol).isNotNull).barrierFirewall(),
      sigCol, maxHamming)
  }

  /** Shared banded-Hamming candidate machinery over ANY 64-bit
    * signature column — the one near-dup geometry every fingerprint
    * modality rides (image aHash, audio energy envelope, video
    * luminance envelope): 4 x 16-bit bands (pigeonhole: every pair
    * within Hamming distance 3 shares a band), the (band, value) pair
    * flattened to one injective bucket key so
    * [[graft.text.TextOps.lshCandidatePairs]]' hot-bucket star-edge
    * cap applies — a templated mega-cluster (one signature shared
    * corpus-wide) is the same in-bucket quadratic as the text chains —
    * then an exact bit_count(xor) verify per candidate. Returns
    * (a_id, b_id, hamming) with hamming <= maxHamming. `sigs` carries
    * (media_id, sigCol) with nulls already filtered. */
  def bandedHammingPairs(sigs: DataFrame, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    val bux = sigs.select(col("media_id"),
      explode(array((0 until 4).map { b =>
        concat_ws(":", lit(b),
          shiftright(col(sigCol), b * 16).bitwiseAND(0xffffL))
      }: _*)).as("bucket"))
    // The candidate kernel runs UNMATERIALIZED (r18): unlike
    // curateCorpus's Jaccard leg — which derives ids from the pair
    // frame and semi-joins the corpus against them, the self-join
    // shape the kernel's internal firewall exists for — this chain
    // consumes the candidates exactly once (join signatures on, take
    // the XOR popcount). The firewall moves to the Hamming-VERIFIED
    // output below, so the kernel populate and the verify pass fuse
    // into ONE execution, and every consumer (the CC probe, or the
    // distributed CC's self-union edge build at scale) reads a
    // materialized pair-scale leaf instead of re-running the verify.
    val cand = graft.text.TextOps.lshCandidatePairs(bux, "media_id",
      materialize = false)
    val sa = sigs.select(col("media_id").as("a_id"), col(sigCol).as("__a"))
    val sb = sigs.select(col("media_id").as("b_id"), col(sigCol).as("__b"))
    graft.util.Barriers.firewall(
      cand.join(sa, "a_id").join(sb, "b_id")
        .select(col("a_id"), col("b_id"),
          expr("bit_count(__a ^ __b)").cast("int").as("hamming"))
        .filter(col("hamming") <= maxHamming))
  }

  /** Frame-sampling plan for video payloads: one row per sampled frame
    * timestamp. Pairs with the real frame decoders ([[decodeAviFrames]]/
    * [[decodeMp4Frames]]/[[decodeMkvFrames]], shipped since r9) for
    * pixel extraction on uncompressed/MJPEG tracks; compressed
    * bitstreams (H.264/VP8/VP9) remain metadata-only — the documented
    * capability boundary in this file's header. */
  def sampleFrames(decoded: DataFrame, everyMs: Long = 1000L): DataFrame =
    decoded.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))).as("frame_ts_ms"))

  /** Build a media table from any (id, string) source — for tests and
    * demo pipelines (payload = UTF-8 bytes). */
  def fromText(df: DataFrame, idCol: String, textCol: String, kind: String): DataFrame =
    df.select(col(idCol).as("media_id"), lit(kind).as("kind"),
      col(textCol).cast("binary").as("payload"),
      struct(lit("synthetic").as("source"), lit("raw").as("declared_format")).as("meta"))

  /** Structurally VALID synthetic media: even ids get a real BMP, odd
    * ids a real WAV, with dimensions derived only from (id, text length)
    * so an external oracle can recompute the expected metadata without
    * parsing binaries — decode is then a genuine build->parse round
    * trip over the container headers. */
  /** Real compressed-image payloads: even ids a PNG, odd ids a JPEG
    * (both via the JVM's actual encoders), dimensions derived only from
    * (id, text length). Decoding these exercises the real zlib/Huffman
    * and DCT codec paths, while an external oracle still predicts
    * format/width/height from the construction rule. */
  def syntheticImages(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = Encoders.row(mediaSchema)
    df.select(col(idCol).cast("long").as("media_id"),
        length(col(textCol)).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val fmt = if (id % 2 == 0) "png" else "jpg"
          val payload = buildImage(16 + n % 41, 12 + (id % 29).toInt, fmt)
          Row(id, "image", payload, Row("synthetic", fmt))
        }
      }(enc)
  }

  /** Planted near-duplicate image classes over [[buildBmpPattern]]:
    * five consecutive ids share one md5-derived 60-bit base pattern
    * (`cls = id / 5`), member `id % 5 = p` XORs in the low-p-bit mask
    * `(1 << p) - 1` — pairwise Hamming distance up to 4 inside a
    * class, chained through <= 3 hops so connected-components joins
    * the whole class, while distinct classes sit ~30 random bits
    * apart. Every quantity is recomputable by an external SQL oracle
    * (md5 hex parse + xor + bit_count), yet the Spark side still
    * earns it: real BMP bytes, real ImageIO decode, real resample/
    * gray/mean hashing. */
  def syntheticPatternBmps(df: DataFrame, idCol: String): DataFrame =
    plantedPatterns(df, idCol, "imgcls") { (id, pattern) =>
      Row(id, "image", buildBmpPattern(pattern), Row("synthetic", "bmp"))
    }

  /** The planted-class rule [[syntheticPatternBmps]],
    * [[syntheticEnvelopeWavs]] and [[syntheticPatternMp4s]] share: id's
    * class `cls = id / 5` takes the first 15 hex digits of
    * md5(`salt:cls`) as its 60-bit base pattern, member `id % 5 = p`
    * XORs in the low-p-bit mask `(1 << p) - 1`, and `build(id, pattern)`
    * renders the media row. The DuckDB oracle mirrors this rule per
    * salt, so a salt never changes. */
  private def plantedPatterns(df: DataFrame, idCol: String, salt: String)(
      build: (Long, Long) => Row): DataFrame = {
    val enc = Encoders.row(mediaSchema)
    df.select(col(idCol).cast("long").as("media_id"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val id = r.getLong(0)
          md.reset()
          val hex = md.digest(s"$salt:${id / 5}".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          val base = java.lang.Long.parseLong(hex.substring(0, 15), 16)
          build(id, base ^ ((1L << (id % 5).toInt) - 1L))
        }
      }(enc)
  }

  /** Real MP4 containers with metadata derived only from (id, text
    * length) — the video analogue of [[syntheticMedia]]: [[decode]]
    * box-walks the payloads back, and an external oracle predicts
    * (width, height, duration, size) from the construction rule. */
  def syntheticVideos(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = Encoders.row(mediaSchema)
    df.select(col(idCol).cast("long").as("media_id"),
        length(col(textCol)).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val payload = buildMp4(
            width = 16 + n % 113,
            height = 16 + (id % 73).toInt,
            durationMs = 500L + (n.toLong * 7L + id * 13L) % 60000L)
          Row(id, "video", payload, Row("synthetic", "mp4"))
        }
      }(enc)
  }

  /** Real uncompressed-AVI containers whose geometry AND frame pixels
    * derive only from (id, text length) — the frame-CONTENT analogue of
    * [[syntheticVideos]]: [[videoFrames]] decodes the raw BI_RGB frames
    * back, and an external oracle recomputes per-frame mean gray from
    * the construction rule without a codec. Dimensions stay small
    * (<= 16x12 x3 frames) so the oracle's pixel expansion is bounded. */
  def syntheticAviVideos(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = Encoders.row(mediaSchema)
    df.select(col(idCol).cast("long").as("media_id"),
        length(col(textCol)).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val payload = buildAvi(
            width = 8 + n % 9,
            height = 6 + (id % 7).toInt,
            nFrames = 1 + (id % 3).toInt)
          Row(id, "video", payload, Row("synthetic", "avi"))
        }
      }(enc)
  }

  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val enc = Encoders.row(mediaSchema)
    df.select(col(idCol).cast("long").as("media_id"),
        length(col(textCol)).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val (kind, fmt, payload) =
            if (id % 2 == 0)
              ("image", "bmp", buildBmp(16 + n % 97, 16 + (id % 61).toInt))
            else
              ("audio", "wav", buildWav(8000, 800 + n % 8000))
          Row(id, kind, payload, Row("synthetic", fmt))
        }
      }(enc)
  }
}
