package graft.multimodal

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class MediaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  lazy val media = Media.fromText(
    spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", "video")

  test("media table schema carries binary payload + typed metadata") {
    assert(media.schema("payload").dataType.typeName == "binary")
    assert(media.schema("meta").dataType.typeName == "struct")
    assert(media.count() > 0)
  }

  test("decode stage emits typed metadata per payload, partition-parallel") {
    val d = Media.decode(media)
    assert(d.columns.toSeq == Seq("media_id", "kind", "n_bytes", "format",
      "width", "height", "duration_ms"))
    assert(d.count() == media.count())
    val r = d.filter(col("media_id") === 0).collect()(0)
    assert(r.getLong(2) > 0 && r.getInt(4) >= 64)
    // deterministic stub: same input -> same output
    val r2 = Media.decode(media).filter(col("media_id") === 0).collect()(0)
    assert(r == r2)
  }

  test("frame sampling yields one row per sampled timestamp") {
    val d = Media.decode(media)
    val frames = Media.sampleFrames(d, everyMs = 5000L)
    val joined = frames.groupBy("media_id").count()
      .join(d, "media_id")
      .select(col("count"), (col("duration_ms") / 5000 + 1).cast("long").as("want"))
    assert(joined.filter(col("count") =!= col("want")).count() == 0)
  }

  test("embedding stage emits fixed-dim float vectors") {
    val e = Media.embed(media, dim = 16)
    assert(e.count() == media.count())
    assert(e.select(size(col("embedding"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(16))
  }

  test("BMP build -> parse round trip reads header fields, not build params") {
    val b = Media.buildBmp(33, 21)
    // 33*3=99 -> padded row 100
    assert(b.length == 54 + 100 * 21)
    assert(Media.parseContainer(b).contains(("bmp", 33, 21, 0L)))
  }

  test("WAV build -> parse round trip derives duration from the data chunk") {
    val w = Media.buildWav(8000, 4000) // 0.5 s
    assert(w.length == 44 + 8000)
    assert(Media.parseContainer(w).contains(("wav", 0, 0, 500L)))
    assert(Media.parseContainer("not a container".getBytes).isEmpty)
  }

  test("MP4 build -> parse round trip walks the real box tree (ISO-BMFF)") {
    val v = Media.buildMp4(640, 360, 12345L)
    // structural markers prove a real container, not a tagged blob
    assert(new String(v, 4, 4, "US-ASCII") == "ftyp")
    assert(Media.parseMp4(v).contains(("mp4", 640, 360, 12345L)))
    assert(Media.parseContainer(v).contains(("mp4", 640, 360, 12345L)))
    // dimensions/duration come from the BYTES: corrupt tkhd width field
    val bad = v.clone()
    bad(20 + 216 - 8) = 0x01 // clobber inside width's 16.16 high bytes
    val parsed = Media.parseMp4(bad)
    assert(parsed.isDefined && parsed.get._2 != 640,
      "parser must read width from tkhd bytes, not the build params")
    // non-MP4 payloads are rejected, not misparsed
    assert(Media.parseMp4("RIFFxxxxWAVE and then some".getBytes).isEmpty)
    assert(Media.parseMp4(Media.buildBmp(8, 8)).isEmpty)
  }

  test("syntheticVideos decode end-to-end with zero stub involvement") {
    val syn = Media.syntheticVideos(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val d = Media.decode(syn)
    // every payload parses as mp4 with the construction-rule metadata
    assert(d.filter(col("format") =!= "mp4").count() == 0)
    assert(d.filter(col("width") < 16 || col("height") < 16).count() == 0)
    assert(d.filter(col("duration_ms") < 500).count() == 0)
    // frame-sample planning runs over REAL parsed durations now
    val frames = Media.sampleFrames(d, everyMs = 10000L)
    assert(frames.count() >= d.count(), "at least frame 0 per video")
  }

  test("AVI build -> parse round trip reads avih fields (RIFF walk)") {
    val a = Media.buildAvi(16, 12, 3, fps = 10)
    assert(new String(a, 8, 4, "US-ASCII") == "AVI ")
    // 3 frames at 100000 us/frame = 300 ms
    assert(Media.parseAvi(a).contains(("avi", 16, 12, 300L)))
    assert(Media.parseContainer(a).contains(("avi", 16, 12, 300L)))
    assert(Media.parseAvi(Media.buildWav(8000, 100)).isEmpty)
    assert(Media.parseAvi(Media.buildMp4(64, 64, 1000L)).isEmpty)
  }

  test("crafted RIFF payloads fail closed: None/Nil, never a crash") {
    // Chunk size near Int.MaxValue: signed 32-bit `off + 8 + size`
    // would wrap negative, bypass the end-bound check, and drive the
    // walker out of the array. The Long-widened walk must just stop.
    val huge = new java.io.ByteArrayOutputStream()
    def tag(s: String): Unit = s.foreach(c => huge.write(c.toInt))
    def le32(v: Int): Unit =
      (0 until 4).foreach(i => huge.write((v >>> (8 * i)) & 0xff))
    tag("RIFF"); le32(100); tag("AVI ")
    tag("LIST"); le32(0x7ffffff0) // claims ~2 GB of body in an 84-byte file
    huge.write(new Array[Byte](64))
    val hb = huge.toByteArray
    assert(Media.parseAvi(hb).isEmpty)
    assert(Media.decodeAviFrames(hb).isEmpty)
    // An avih claiming a 1M x 1M frame: geometry is bounded BEFORE any
    // BufferedImage allocation, so decode yields no frames (metadata
    // parse itself still reports what the header claims).
    val a = Media.buildAvi(4, 4, 1)
    val idx = a.indexOfSlice("avih".getBytes("US-ASCII"))
    assert(idx > 0)
    def patchLe32(off: Int, v: Int): Unit =
      (0 until 4).foreach(i => a(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    patchLe32(idx + 8 + 32, 1000000) // width
    patchLe32(idx + 8 + 36, 1000000) // height
    assert(Media.parseAvi(a).exists(_._2 == 1000000))
    assert(Media.decodeAviFrames(a).isEmpty)
    // Truncated mid-header and zero-length payloads
    assert(Media.parseAvi(java.util.Arrays.copyOf(hb, 14)).isEmpty)
    assert(Media.decodeAviFrames(Array.emptyByteArray).isEmpty)
  }

  test("audioWindows: real PCM decode matches the construction-rule windows") {
    import spark.implicits._
    val ns = 2500 // 2 full windows + one 500-sample partial
    val media = Seq((7L, Media.buildWav(8000, ns)), (8L, Media.buildBmp(16, 16)))
      .toDF("media_id", "payload")
    val got = Media.audioWindows(media, windowSamples = 1000)
      .orderBy("win_idx").collect()
    // the image row emits nothing; 3 windows from the audio row
    assert(got.map(_.getLong(0)).toSet == Set(7L))
    assert(got.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(got.map(_.getInt(2)).toSeq == Seq(1000, 1000, 500))
    // recompute window 0 directly from buildWav's byte rule
    def sample(k: Int): Int = {
      val lo = ((44 + 2 * k) * 17 + ns) & 0xff
      val hi = ((45 + 2 * k) * 17 + ns) & 0xff
      val raw = (hi << 8) | lo
      if (hi >= 128) raw - 65536 else raw
    }
    val w0 = (0 until 1000).map(sample)
    val sumsq = w0.map(v => v.toLong * v).sum
    val rms = math.round(math.sqrt(sumsq.toDouble / 1000) * 1e6) / 1e6
    assert(got(0).getDouble(3) == rms, "RMS must match the byte rule exactly")
    assert(got(0).getInt(4) == w0.map(math.abs).max)
  }

  test("audioWindows fails closed on crafted WAV payloads") {
    import spark.implicits._
    val good = Media.buildWav(8000, 100)
    // truncate mid-data: javax.sound either yields the readable prefix
    // or nothing — either way no crash and no phantom windows
    val truncated = java.util.Arrays.copyOf(good, 60)
    // data chunk claiming ~2 GB in a 144-byte payload
    val lying = good.clone()
    def le32(b: Array[Byte], off: Int, v: Int): Unit =
      (0 until 4).foreach(i => b(off + i) = ((v >>> (8 * i)) & 0xff).toByte)
    le32(lying, 40, 0x7ffffff0)
    val media = Seq(
      (1L, truncated), (2L, lying), (3L, Array.emptyByteArray),
      (4L, good))
      .toDF("media_id", "payload")
    val r = Media.audioWindows(media, windowSamples = 50).collect()
    // the intact payload yields its 2 windows; nothing crashes
    val byId = r.groupBy(_.getLong(0))
    assert(byId.contains(4L) && byId(4L).length == 2)
    assert(r.forall(_.getInt(2) <= 50))
  }

  test("crafted JPEG claiming huge SOF dimensions is rejected before allocation") {
    // A REAL tiny JPEG whose SOF0 height/width fields are patched to
    // ~65500x65500: ImageIO would allocate from the JPEG's own header
    // (a multi-GB raster -> OutOfMemoryError no NonFatal catch sees),
    // so decodeImage must reject on the header probe BEFORE decoding.
    // This is the MJPEG 'dc' bypass: avih bounds don't cover the
    // frame's own declared geometry.
    val jpg = Media.buildImage(8, 8, "jpg")
    var sof = -1
    var i = 2
    while (sof < 0 && i < jpg.length - 1) {
      if ((jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == 0xc0) sof = i
      i += 1
    }
    assert(sof > 0, "SOF0 marker present in the real JPEG")
    def patchBe16(off: Int, v: Int): Unit = {
      jpg(off) = ((v >>> 8) & 0xff).toByte; jpg(off + 1) = (v & 0xff).toByte
    }
    patchBe16(sof + 5, 65500) // height
    patchBe16(sof + 7, 65500) // width
    assert(Media.probeImage(jpg).exists(p => p._2 == 65500 && p._3 == 65500),
      "the header really claims the huge geometry")
    assert(Media.decodeImage(jpg).isEmpty,
      "oversized declared geometry must fail closed, not allocate")
    // and an untampered JPEG still decodes
    assert(Media.decodeImage(Media.buildImage(8, 8, "jpg")).isDefined)
  }

  test("raw-RGB AVI frames decode to the exact construction-rule pixels") {
    val a = Media.buildAvi(9, 7, 2) // odd width exercises the 4-byte row pad
    val frames = Media.decodeAviFrames(a)
    assert(frames.length == 2)
    for (f <- 0 until 2) {
      val img = frames(f)
      assert(img.getWidth == 9 && img.getHeight == 7)
      for (y <- 0 until 7; x <- 0 until 9) {
        val v = (x * 31 + y * 17 + f * 29) & 0xff
        assert((img.getRGB(x, y) & 0xffffff) == ((v << 16) | (v << 8) | v),
          s"pixel ($x,$y) frame $f")
      }
    }
  }

  test("MJPEG AVI frames decode through the real ImageIO JPEG codec") {
    val a = Media.buildAvi(16, 12, 2, mjpeg = true)
    val frames = Media.decodeAviFrames(a)
    assert(frames.length == 2)
    assert(frames.forall(f => f.getWidth == 16 && f.getHeight == 12))
    def mean(img: java.awt.image.BufferedImage): Double = {
      val vs = for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield (img.getRGB(x, y) & 0xff).toDouble
      vs.sum / vs.length
    }
    // lossy codec: mean gray lands near the rule's mean, not exactly on it
    val want = (for (y <- 0 until 12; x <- 0 until 16)
      yield ((x * 31 + y * 17) & 0xff).toDouble).sum / (16 * 12)
    assert(math.abs(mean(frames(0)) - want) < 16.0)
  }

  test("raw-RGB MP4 samples decode to the exact construction-rule pixels") {
    val m = Media.buildMp4Frames(9, 7, 2)
    val frames = Media.decodeMp4Frames(m)
    assert(frames.length == 2)
    for (f <- 0 until 2) {
      val img = frames(f)
      assert(img.getWidth == 9 && img.getHeight == 7)
      for (y <- 0 until 7; x <- 0 until 9) {
        val v = (x * 31 + y * 17 + f * 29) & 0xff
        assert((img.getRGB(x, y) & 0xffffff) == ((v << 16) | (v << 8) | v),
          s"pixel ($x,$y) frame $f")
      }
    }
  }

  test("MJPEG MP4 samples decode through the real ImageIO JPEG codec") {
    val m = Media.buildMp4Frames(16, 12, 2, mjpeg = true)
    val frames = Media.decodeMp4Frames(m)
    assert(frames.length == 2)
    assert(frames.forall(f => f.getWidth == 16 && f.getHeight == 12))
    def mean(img: java.awt.image.BufferedImage): Double = {
      val vs = for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield (img.getRGB(x, y) & 0xff).toDouble
      vs.sum / vs.length
    }
    // lossy codec: mean gray lands near the rule's mean, not exactly on it
    val want = (for (y <- 0 until 12; x <- 0 until 16)
      yield ((x * 31 + y * 17) & 0xff).toDouble).sum / (16 * 12)
    assert(math.abs(mean(frames(0)) - want) < 16.0)
  }

  test("frame-bearing MP4s still parse through the metadata box walk") {
    val m = Media.buildMp4Frames(9, 7, 3, fps = 10)
    val meta = Media.parseMp4(m)
    assert(meta.contains(("mp4", 9, 7, 300L)), s"got $meta")
  }

  test("malformed MP4 sample tables fail closed, never throw") {
    val good = Media.buildMp4Frames(9, 7, 2)
    // moov trails the mdat, so ANY truncation severs the sample tables
    // and must yield zero frames (each cut lands in a different check)
    for (cut <- Seq(4, 17, 40, 100, good.length / 2, good.length - 3))
      assert(Media.decodeMp4Frames(java.util.Arrays.copyOf(good, cut)).isEmpty,
        s"truncated at $cut")
    // a crafted stco pointing past the payload must yield no frames
    val patched = good.clone()
    var i = 0
    var stco = -1
    while (stco < 0 && i < patched.length - 4) {
      if (new String(patched, i, 4, "US-ASCII") == "stco") stco = i
      i += 1
    }
    assert(stco > 0)
    // chunk offset field = stco body(version 4 + count 4) + 8
    val offField = stco + 4 + 8
    patched(offField) = 0x7f; patched(offField + 1) = 0xff.toByte
    assert(Media.decodeMp4Frames(patched).isEmpty,
      "out-of-range chunk offset must be rejected")
    // zero frames: a structurally valid but empty track yields no rows
    assert(Media.decodeMp4Frames(Media.buildMp4Frames(9, 7, 0)).isEmpty)
    // non-MP4 bytes
    assert(Media.decodeMp4Frames("not a video".getBytes).isEmpty)
  }

  test("videoFrames measures real frame content per synthetic MP4") {
    val syn = Media.syntheticMp4Videos(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val vf = Media.videoFrames(syn).cache()
    val counts = vf.groupBy("media_id").count()
    assert(counts.filter(col("count") =!= (col("media_id") % 3 + 1)).count() == 0)
    assert(vf.filter(col("mean_gray") <= 0 || col("mean_gray") >= 255).count() == 0)
    assert(vf.select("mean_gray").distinct().count() > 1)
    vf.unpersist()
  }

  test("videoFrames measures real frame content per synthetic AVI") {
    val syn = Media.syntheticAviVideos(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val vf = Media.videoFrames(syn).cache()
    // frame counts follow the construction rule 1 + id % 3
    val counts = vf.groupBy("media_id").count()
    assert(counts.filter(col("count") =!= (col("media_id") % 3 + 1)).count() == 0)
    // mean gray is a real pixel statistic: inside (0, 255), varies by frame
    assert(vf.filter(col("mean_gray") <= 0 || col("mean_gray") >= 255).count() == 0)
    assert(vf.select("mean_gray").distinct().count() > 1)
    vf.unpersist()
  }

  test("syntheticMedia payloads decode via the real header parsers") {
    val syn = Media.syntheticMedia(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val d = Media.decode(syn)
    assert(d.filter(col("format").isin("bmp", "wav")).count() == d.count())
    assert(d.filter(col("kind") === "image" && col("format") =!= "bmp").count() == 0)
    assert(d.filter(col("kind") === "audio" && col("duration_ms") <= 0).count() == 0)
  }

  test("PNG and JPEG round-trip through the JVM's real codecs") {
    val png = Media.buildImage(37, 21, "png")
    // PNG magic bytes prove a real encoder ran, not a header fabricator
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    assert(Media.probeImage(png).contains(("png", 37, 21)))
    val jpg = Media.buildImage(37, 21, "jpg")
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8)
    assert(Media.probeImage(jpg).contains(("jpeg", 37, 21)))
    assert(Media.probeImage("not an image".getBytes).isEmpty)
    // PNG is lossless: decoded pixels must equal the build rule exactly
    val img = Media.decodeImage(png).get
    assert((img.getRGB(5, 3) & 0xffffff) == ((5 * 31 + 3 * 17 + 37 * 7 + 21) & 0xffffff))
  }

  test("decode ladder routes png/jpeg payloads through ImageIO") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val d = Media.decode(Media.syntheticImages(docs, "doc_id", "text"))
    assert(d.filter(col("media_id") % 2 === 0 && col("format") =!= "png").count() == 0)
    assert(d.filter(col("media_id") % 2 === 1 && col("format") =!= "jpeg").count() == 0)
    assert(d.filter(col("width") < 16 || col("height") < 12).count() == 0)
  }

  test("audio probe reads WAV duration through javax.sound.sampled") {
    val w = Media.buildWav(8000, 4000)
    assert(Media.probeAudio(w).contains(("wav", 500L)))
    val s = Media.pcmSamples(w).get
    assert(s.length == 4000)
    // sample i = little-endian int16 of the deterministic build bytes
    val off = 44 + 10 * 2
    val want = ((w(off) & 0xff) | (w(off + 1) << 8)).toShort
    assert(s(10) == want)
  }

  test("resize re-encodes a real PNG at the target dimensions") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(20)
    val rs = Media.resizeImages(Media.syntheticImages(docs, "doc_id", "text"), 8, 6)
    val pays = rs.collect()
    assert(pays.forall(r => !r.isNullAt(1)))
    pays.foreach { r =>
      assert(Media.probeImage(r.getAs[Array[Byte]](1)).contains(("png", 8, 6)))
    }
    // non-image payloads pass through as null instead of failing the task
    val txt = Media.fromText(docs, "doc_id", "text", "video")
    assert(Media.resizeImages(txt, 8, 6).filter(col("resized").isNotNull).count() == 0)
  }

  test("image embeddings are decoded-pixel means, identical across lossless codecs") {
    // the same pixel matrix encoded as PNG and BMP must embed identically
    val img = Media.decodeImage(Media.buildImage(40, 30, "png")).get
    val bmpBytes = { // re-encode via ImageIO's bmp writer
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos); bos.toByteArray
    }
    val one = spark.range(1)
    import spark.implicits._
    val both = Seq((0L, Media.buildImage(40, 30, "png")), (1L, bmpBytes))
      .toDF("media_id", "payload")
    val e = Media.embed(both, dim = 16).collect().sortBy(_.getLong(0))
    assert(e(0).getSeq[Float](1) == e(1).getSeq[Float](1))
    assert(e(0).getSeq[Float](1).forall(v => v >= 0f && v <= 1f))
    assert(one.count() == 1)
  }

  test("aHash fingerprints match across lossless codecs, near-match after JPEG") {
    import spark.implicits._
    val img = Media.decodeImage(Media.buildImage(64, 64, "png")).get
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    val df = Seq((0L, enc("png")), (1L, enc("bmp")), (2L, enc("jpg")),
      (3L, "junk".getBytes)).toDF("media_id", "payload")
    val h = Media.imageHash(df).collect().sortBy(_.getLong(0))
    assert(h(0).getLong(1) == h(1).getLong(1))
    val ham = java.lang.Long.bitCount(h(0).getLong(1) ^ h(2).getLong(1))
    assert(ham <= 8, s"jpeg aHash drifted $ham bits from lossless")
    assert(h(3).isNullAt(1))
  }

  test("resample destination reuse stays invisible (zero-filled per use, per size)") {
    import spark.implicits._
    // Semi-transparent PNG: drawImage SrcOver-blends against the
    // destination raster, so a STALE (non-zeroed) reused destination
    // would shift the blended pixels — the one way the per-thread
    // destination cache could leak between rows.
    val argb = new java.awt.image.BufferedImage(10, 10,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 10; x <- 0 until 10)
      argb.setRGB(x, y, ((25 * x) << 24) | 0xff0000 | ((25 * y) << 8) | 0x80)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(argb, "png", bos)
    val alphaPng = bos.toByteArray
    // Expected aHash computed with a FRESH destination per call — the
    // pre-cache implementation, inlined as the equivalence baseline.
    def freshAHash(payload: Array[Byte]): Long = {
      val img = Media.decodeImage(payload).get
      val out = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 8, 8, null)
      g.dispose()
      val gs = Array.tabulate(64) { i =>
        val rgb = out.getRGB(i % 8, i / 8)
        0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
      }
      val mean = gs.sum / 64.0
      gs.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
        if (v > mean) acc | (1L << i) else acc }
    }
    val pattern = 0x5a5a5a5a5a5a5aL
    val planted = Media.buildBmpPattern(pattern)
    // ONE partition => one task thread: the bright planted BMPs are
    // resampled right before each alpha image reuses the same thread's
    // 8x8 destination, and embed's 4x4 destination interleaves sizes.
    val df = Seq((0L, planted), (1L, alphaPng), (2L, planted), (3L, alphaPng))
      .toDF("media_id", "payload").repartition(1)
    val h = Media.imageHash(df).orderBy("media_id").collect()
    assert(h(0).getLong(1) == pattern && h(2).getLong(1) == pattern)
    assert(h(1).getLong(1) == freshAHash(alphaPng))
    assert(h(3).getLong(1) == freshAHash(alphaPng))
    val e = Media.embed(df, dim = 16).orderBy("media_id").collect()
    assert(e(0).getSeq[Float](1) == e(2).getSeq[Float](1))
    assert(e(1).getSeq[Float](1) == e(3).getSeq[Float](1))
  }

  test("resample destinations are bounded per thread (LRU of 4)") {
    val img = Media.decodeImage(Media.buildImage(64, 64, "png")).get
    val sizes = (1 to 10).map(i => (4 + i, 3 + i))
    def probe(w: Int, h: Int): (Int, Int, Int) =
      Media.withResampled(img, w, h)(p =>
        (p.getWidth, p.getHeight, p.getRGB(w / 2, h / 2)))
    val first = sizes.map { case (w, h) => probe(w, h) }
    assert(Media.resampleDstSize <= 4,
      s"10 sizes on one thread left ${Media.resampleDstSize} destinations")
    assert(first.map(t => (t._1, t._2)) == sizes)
    // evicted and still-held sizes both re-render the same pixels
    assert(sizes.map { case (w, h) => probe(w, h) } == first)
    assert(Media.resampleDstSize <= 4)
  }

  test("imageNearDups pairs perturbed copies, not distinct images or junk") {
    import spark.implicits._
    val base = Media.decodeImage(Media.buildImage(64, 64, "png")).get
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    def perturb(src: java.awt.image.BufferedImage, n: Int) = {
      val c = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) c.setRGB(x, y, src.getRGB(x, y))
      for (i <- 0 until n) c.setRGB(i % 64, i / 64, 0xffffff)
      c
    }
    def invert(src: java.awt.image.BufferedImage) = {
      val c = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64)
        c.setRGB(x, y, ~src.getRGB(x, y) & 0xffffff)
      c
    }
    val media = Seq(
      (1L, png(base)), (2L, png(perturb(base, 40))),  // near-dup of 1
      (3L, png(invert(base))),                        // far from 1
      (4L, "not an image".getBytes)                   // undecodable
    ).toDF("media_id", "payload")
    val pairs = Media.nearDups(media, "image", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"perturbed copy must pair, got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "the inverted image must not pair with anything")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "undecodable payloads never pair")
  }

  test("buildMkv -> parseMkv round-trips format, dimensions and duration") {
    val m = Media.buildMkv(9, 7, 3, fps = 10)
    val meta = Media.parseMkv(m)
    assert(meta.contains(("mkv", 9, 7, 300L)), s"got $meta")
    // and through the shared container ladder
    assert(Media.parseContainer(m) == meta)
  }

  test("V_UNCOMPRESSED MKV blocks decode to the exact construction-rule pixels") {
    val m = Media.buildMkv(9, 7, 2)
    val frames = Media.decodeMkvFrames(m)
    assert(frames.length == 2)
    for (f <- 0 until 2) {
      val img = frames(f)
      assert(img.getWidth == 9 && img.getHeight == 7)
      for (y <- 0 until 7; x <- 0 until 9) {
        val v = (x * 31 + y * 17 + f * 29) & 0xff
        assert((img.getRGB(x, y) & 0xffffff) == ((v << 16) | (v << 8) | v),
          s"pixel ($x,$y) frame $f")
      }
    }
  }

  test("V_MJPEG MKV blocks decode through the real ImageIO JPEG codec") {
    val m = Media.buildMkv(16, 12, 2, mjpeg = true)
    val frames = Media.decodeMkvFrames(m)
    assert(frames.length == 2)
    assert(frames.forall(f => f.getWidth == 16 && f.getHeight == 12))
    def mean(img: java.awt.image.BufferedImage): Double = {
      val vs = for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield (img.getRGB(x, y) & 0xff).toDouble
      vs.sum / vs.length
    }
    // lossy codec: mean gray lands near the rule's mean, not exactly on it
    val want = (for (y <- 0 until 12; x <- 0 until 16)
      yield ((x * 31 + y * 17) & 0xff).toDouble).sum / (16 * 12)
    assert(math.abs(mean(frames(0)) - want) < 16.0)
  }

  test("malformed EBML trees fail closed, never throw") {
    val good = Media.buildMkv(9, 7, 2)
    for (cut <- Seq(3, 10, 30, 80, good.length / 2, good.length - 3)) {
      // truncation must never throw; frames may survive only if the cut
      // lands beyond the last SimpleBlock (it never does here: the
      // cluster is the final element)
      assert(Media.decodeMkvFrames(java.util.Arrays.copyOf(good, cut)).length < 2,
        s"truncated at $cut")
    }
    // a laced SimpleBlock (flags bits 0x06) is skipped, not misread:
    // find the first SimpleBlock (id 0xa3 + its 2-byte size VINT for
    // 4 + 9*7*3 = 193 body bytes: 0x40 0xc1 — the full pattern, since
    // a bare 0xa3 also appears as the EBML header's size byte) and set
    // a lacing bit in its flags byte
    val patched = good.clone()
    var i = 0
    var blk = -1
    while (blk < 0 && i < patched.length - 3) {
      if ((patched(i) & 0xff) == 0xa3 && (patched(i + 1) & 0xff) == 0x40 &&
          (patched(i + 2) & 0xff) == 0xc1) blk = i
      i += 1
    }
    assert(blk > 0)
    // layout after the id: size VINT (2 bytes here: 0x4xxx), track VINT
    // (1 byte), s16 ts, flags
    val flagsOff = blk + 1 + 2 + 1 + 2
    patched(flagsOff) = (patched(flagsOff) | 0x02).toByte
    assert(Media.decodeMkvFrames(patched).length == 1, "laced block must be skipped")
    // zero frames, wrong magic
    assert(Media.decodeMkvFrames(Media.buildMkv(9, 7, 0)).isEmpty)
    assert(Media.decodeMkvFrames("not matroska".getBytes).isEmpty)
  }

  test("videoFrames measures real frame content per synthetic MKV") {
    val syn = Media.syntheticMkvVideos(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val vf = Media.videoFrames(syn).cache()
    val counts = vf.groupBy("media_id").count()
    assert(counts.filter(col("count") =!= (col("media_id") % 3 + 1)).count() == 0)
    assert(vf.filter(col("mean_gray") <= 0 || col("mean_gray") >= 255).count() == 0)
    assert(vf.select("mean_gray").distinct().count() > 1)
    vf.unpersist()
  }

  test("MKV and MP4 synthetic twins agree frame-for-frame") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    val a = Media.videoFrames(Media.syntheticMkvVideos(docs, "doc_id", "text"))
    val b = Media.videoFrames(Media.syntheticMp4Videos(docs, "doc_id", "text"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("buildBmpPattern round-trips the planted pattern through decode + aHash") {
    import spark.implicits._
    // patterns with 1 white pixel, a dense mix, and all-black: the
    // decoded average-hash must equal the pattern bit-for-bit
    val pats = Seq(0L, 1L, 0x0123456789abcdL, (1L << 60) - 1 - 0xf0L)
    val media = pats.zipWithIndex
      .map { case (pt, i) => (i.toLong, Media.buildBmpPattern(pt)) }
      .toDF("media_id", "payload")
    val got = Media.imageHash(media).orderBy("media_id")
      .collect().map(r => r.getLong(1))
    assert(got.toSeq == pats,
      s"ahash must equal the planted pattern: ${got.mkString(",")}")
  }

  test("audio energy envelope round-trips the planted pattern through PCM decode") {
    import spark.implicits._
    val pats = Seq(0L, 0xfL, 0x0123456789abcdL, (1L << 60) - 1)
    val media = pats.zipWithIndex.map { case (pt, i) =>
      val amps = (0 until 16).map(w => ((pt >>> (4 * w)) & 0xfL).toInt * 256 + 128)
      (i.toLong, Media.buildSquareWav(amps))
    }.toDF("media_id", "payload")
    val got = Media.audioFingerprint(media).orderBy("media_id")
      .collect().map(r => r.getLong(1))
    assert(got.toSeq == pats,
      s"afp must equal the planted pattern: ${got.mkString(",")}")
    // junk bytes yield a null fingerprint, never a throw
    val junk = Seq((9L, Array.fill[Byte](64)(0x42))).toDF("media_id", "payload")
    assert(Media.audioFingerprint(junk).collect()(0).isNullAt(1))
  }

  test("video luminance envelope round-trips the planted pattern through the MP4 walk") {
    import spark.implicits._
    val pats = Seq(0L, 0xfL, 0x0123456789abcdL, (1L << 60) - 1)
    val media = pats.zipWithIndex.map { case (pt, i) =>
      val payload = Media.buildMp4FramesWith(8, 6, 16, 10, mjpeg = false,
        (_, _, f) => (((pt >>> (4 * f)) & 0xfL).toInt << 4) | 8)
      (i.toLong, payload)
    }.toDF("media_id", "payload")
    val got = Media.videoFingerprint(media).orderBy("media_id")
      .collect().map(r => r.getLong(1))
    assert(got.toSeq == pats,
      s"vfp must equal the planted pattern: ${got.mkString(",")}")
    // a short clip leaves high nibbles 0 — duration is part of the profile
    val shortClip = Seq((9L, Media.buildMp4FramesWith(8, 6, 2, 10, false,
      (_, _, _) => 0xf8))).toDF("media_id", "payload")
    val sfp = Media.videoFingerprint(shortClip).collect()(0).getLong(1)
    assert(sfp == 0xffL, s"2-frame clip must pack 2 nibbles, got $sfp")
  }

  test("audio/video near-dups cluster planted classes, not cross-class") {
    import spark.implicits._
    val ids = (0L until 15L).toDF("doc_id")
    def clusters(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.text.TextOps.nearDupClusters(pairs.select("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ac = clusters(Media.nearDups(
      Media.syntheticEnvelopeWavs(ids, "doc_id"), "audio"))
    val vc = clusters(Media.nearDups(
      Media.syntheticPatternMp4s(ids, "doc_id"), "video"))
    for (c <- Seq(ac, vc); id <- 0L until 15L)
      assert(c(id) == (id / 5) * 5, s"doc $id -> ${c(id)} in $c")
  }

  test("imagePHash: DC bit clear, constant image hashes 0, junk is null") {
    import spark.implicits._
    def png(pix: Int => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { i =>
        val v = pix(i); img.setRGB(i % 8, i / 8, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, png(_ => 128)),                       // constant gray
      (2L, png(i => if (i % 3 == 0) 255 else 0)), // patterned
      (3L, Array[Byte](1, 2, 3)))                 // undecodable
      .toDF("media_id", "payload")
    val h = Media.imagePHash(rows).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(h(1L) == Some(0L), "all-zero AC coefficients -> hash 0")
    assert(h(2L).exists(v => v != 0L && (v & 1L) == 0L),
      "patterned image sets bits, never the DC bit")
    assert(h(3L).isEmpty, "undecodable payloads are null")
  }

  test("imagePHash is invariant to affine pixel maps (contrast/brightness)") {
    import spark.implicits._
    def png(hi: Int, lo: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 64).foreach { i =>
        val v = if ((i * 7 + 3) % 5 < 2) hi else lo
        img.setRGB(i % 8, i / 8, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq((1L, png(255, 0)), (2L, png(140, 40)), (3L, png(90, 60)))
      .toDF("media_id", "payload")
    val h = Media.imagePHash(rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L) && h(2L) == h(3L),
      s"AC-median ranking must survive affine pixel maps: $h")
    assert(h(1L) != 0L)
  }

  test("imagePHash on planted patterns is deterministic across partitionings") {
    import spark.implicits._
    val ids = (0L until 40L).toDF("doc_id")
    def hashes(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Media.imagePHash(Media.syntheticPatternBmps(df, "doc_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = hashes(ids)
    val b = hashes(ids.repartition(7))
    assert(a == b && a.size == 40)
    // same planted class (id div 5) means near-identical patterns:
    // the class-0 base pattern and its 1-bit perturbations stay within
    // a few Hamming bits of each other in pHash space
    val base = a(0L)
    (1L until 5L).foreach { id =>
      val d = java.lang.Long.bitCount(base ^ a(id))
      assert(d <= 16, s"within-class pHash distance blew up: $d")
    }
  }

  test("the kind table rejects an unknown kind before any job") {
    // a Spark job that read this payload would fail with a
    // SparkException, not the kind table's IllegalArgumentException
    val poison = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("payload was read")
      Array.emptyByteArray
    }
    val media = spark.range(3).select(col("id").as("media_id"),
      poison(col("id")).as("payload"))
    for (run <- Seq(() => Media.nearDups(media, "text"),
        () => Media.fingerprint(media, "text"))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("image, audio, video"), e.getMessage)
    }
  }
}
