package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.multimodal.Media
import graft.text.TextOps

class MediaStreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming envelope dedup keeps one clip per distinct fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // 4 envelope classes x 3 byte-identical clips each + junk payloads:
    // the stream must emit exactly one clip per distinct envelope and
    // drop the undecodable rows
    def amps(cls: Long) =
      (0 until 16).map(w => (((cls * 37 + w * 11) % 15) + 1).toInt * 256 + 128)
    val clips = for (cls <- 0L until 4L; c <- 0 until 3) yield
      (cls * 10 + c, Media.buildSquareWav(amps(cls)))
    val junk = Seq((99L, Array.fill[Byte](32)(0x13)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val in = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val stream = in.toDF.toDF("media_id", "payload", "ingest_time")
    val q = MediaStreams.dedupByEnvelope(stream, "audio", "ingest_time")
      .writeStream.outputMode("append").format("memory")
      .queryName("env_dedup").start()
    in.addData((clips ++ junk).map { case (id, p) => (id, p, ts(id)) })
    q.processAllAvailable()
    q.stop()
    val got = spark.table("env_dedup")
      .select("media_id", "fingerprint").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // one survivor per class, fingerprints = the batch kernel's values
    assert(got.length == 4, s"got ${got.mkString(",")}")
    val wantFps = (0L until 4L)
      .map(cls => Media.audioFingerprintOf(Media.buildSquareWav(amps(cls))).get)
      .toSet
    assert(got.map(_._2).toSet == wantFps)
    assert(got.map(_._1 / 10).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("video kind routes through the video fingerprint kernel") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val payload = Media.buildMp4FramesWith(8, 6, 16, 10, mjpeg = false,
      (_, _, f) => ((f % 15 + 1) << 4) | 8)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val in = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val stream = in.toDF.toDF("media_id", "payload", "ingest_time")
    val q = MediaStreams.dedupByEnvelope(stream, "video", "ingest_time")
      .writeStream.outputMode("append").format("memory")
      .queryName("venv_dedup").start()
    in.addData(Seq((1L, payload, ts(1)), (2L, payload, ts(2))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("venv_dedup").collect()
    assert(got.length == 1)
    assert(got(0).getLong(1) == Media.videoFingerprintOf(payload).get)
  }

  test("banded audio dedup matches the batch near-dup + CC chain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      // 6 planted envelope classes of 5 Hamming-chained members each
      // (syntheticEnvelopeWavs: all edits in the low nibble, so bands
      // 1-3 are class-identical) + 10 singleton classes — the dup
      // groups share bands by construction, exactly the no-bridging
      // corpus shape the batch-parity contract pins
      val ids = (0L until 30L) ++ (0 until 10).map(i => 1000L + i * 5)
      val media = Media.syntheticEnvelopeWavs(
        ids.toDF("media_id"), "media_id").cache()
      val pairs = Media.nearDups(media, "audio")
        .select("a_id", "b_id")
      val want = TextOps.dropNearDuplicates(
          media.select("media_id"), "media_id", pairs)
        .as[Long].collect().toSet
      assert(want.size == 16, s"6 class survivors + 10 singletons: $want")

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val rows = media.select("media_id", "payload")
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val in = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
      val stream = in.toDF.toDF("media_id", "payload", "ingest_time")
      val q = MediaStreams.dedupByEnvelopeBanded(stream, "audio", "ingest_time")
        .writeStream.outputMode("append").format("memory")
        .queryName("benv_audio").start()
      in.addData(rows.zipWithIndex.map { case ((id, p), i) => (id, p, ts(i)) })
      q.processAllAvailable()
      // decodable far-future sentinel: advances the watermark past every
      // real clip so the append-mode claim-count aggregation emits
      in.addData(Seq((999999L,
        Media.buildSquareWav((0 until 16).map(w => w * 200 + 300)),
        ts(86400L * 2))))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("benv_audio").select("media_id").as[Long]
        .collect().toSet - 999999L
      assert(got == want,
        s"stream/batch mismatch: only-stream=${got -- want} only-batch=${want -- got}")
      media.unpersist()
    }
  }

  test("non-default windowSamples threads to the stream's audio kernel") {
    import spark.implicits._
    // the knob must reach the fingerprint: the same WAV fingerprinted
    // at windowSamples 1000 vs 250 yields different envelopes, and the
    // stream's output fingerprint must equal the batch kernel's at the
    // SAME setting (the parity contract the parameter exists for)
    val wav = Media.buildSquareWav((0 until 16).map(w => w * 137 + 211))
    val fp250 = Media.audioFingerprintOf(wav, windowSamples = 250).get
    val fp1000 = Media.audioFingerprintOf(wav).get
    assert(fp250 != fp1000, "fixture must distinguish the settings")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val stream = in.toDF.toDF("media_id", "payload", "ingest_time")
    val q = MediaStreams.dedupByEnvelope(stream, "audio", "ingest_time",
        windowSamples = 250)
      .writeStream.outputMode("append").format("memory")
      .queryName("env_ws").start()
    in.addData(Seq((1L, wav, new java.sql.Timestamp(1700000000000L))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("env_ws").select("fingerprint")
      .collect().head.getLong(0)
    assert(got == fp250, s"stream must fingerprint at windowSamples=250")
  }

  test("banded video dedup matches the batch near-dup + CC chain") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      val ids = (0L until 15L) ++ (0 until 4).map(i => 2000L + i * 5)
      val media = Media.syntheticPatternMp4s(
        ids.toDF("media_id"), "media_id").cache()
      val pairs = Media.nearDups(media, "video").select("a_id", "b_id")
      val want = TextOps.dropNearDuplicates(
          media.select("media_id"), "media_id", pairs)
        .as[Long].collect().toSet
      assert(want.size == 7, s"3 class survivors + 4 singletons: $want")

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val rows = media.select("media_id", "payload")
        .as[(Long, Array[Byte])].collect().sortBy(_._1)
      val in = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
      val stream = in.toDF.toDF("media_id", "payload", "ingest_time")
      val q = MediaStreams.dedupByEnvelopeBanded(stream, "video", "ingest_time")
        .writeStream.outputMode("append").format("memory")
        .queryName("benv_video").start()
      in.addData(rows.zipWithIndex.map { case ((id, p), i) => (id, p, ts(i)) })
      q.processAllAvailable()
      in.addData(Seq((999999L,
        Media.buildMp4FramesWith(8, 6, 16, 10, mjpeg = false,
          (_, _, f) => ((f % 15 + 1) << 4) | 8),
        ts(86400L * 2))))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("benv_video").select("media_id").as[Long]
        .collect().toSet - 999999L
      assert(got == want,
        s"stream/batch mismatch: only-stream=${got -- want} only-batch=${want -- got}")
      media.unpersist()
    }
  }

  test("banded claims expire with the horizon; re-arrivals survive again") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      // one envelope class, four byte-distinct near-dup members (ids
      // 0-3 of class 0) + a far filler clip to advance the watermark
      val media = Media.syntheticEnvelopeWavs(
        (0L until 4L).toDF("media_id"), "media_id")
      val clips = media.select("media_id", "payload")
        .as[(Long, Array[Byte])].collect().sortBy(_._1).toMap
      val filler = Media.buildSquareWav((0 until 16).map(w => w * 200 + 300))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val h = 3600L // seconds; claim horizon = 2h, watermark = 2h
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val in = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
      val stream = in.toDF.toDF("media_id", "payload", "ingest_time")
      val q = MediaStreams.dedupByEnvelopeBanded(stream, "audio", "ingest_time")
        .writeStream.outputMode("append").format("memory")
        .queryName("benv_expiry").start()
      def step(t: (Long, Array[Byte], java.sql.Timestamp)): Unit = {
        in.addData(t); q.processAllAvailable()
      }
      step((0L, clips(0L), ts(0)))          // A claims its 4 bands
      step((1L, clips(1L), ts(h)))          // B absorbed: claims live
      step((500L, filler, ts(5 * h)))       // watermark -> 3h: claims (2h) expire
      step((2L, clips(2L), ts(5 * h + 30))) // C re-claims the expired bands
      step((3L, clips(3L), ts(5 * h + 60))) // D absorbed by C's fresh claims
      step((999999L, filler, ts(86400L * 2))) // flush the agg
      q.processAllAvailable()
      q.stop()
      val got = spark.table("benv_expiry").select("media_id").as[Long]
        .collect().toSet.filter(_ < 4L)
      assert(got == Set(0L, 2L),
        s"expected A and the post-expiry re-claim C, got $got")
    }
  }

  test("envelope dedup rejects the image kind") {
    // envelopes exist for audio and video only; the check runs before
    // the stream is built, so a batch frame is enough to reach it
    val media = spark.range(1).select(col("id").as("media_id"),
      lit(Array[Byte](1)).as("payload"), current_timestamp().as("ts"))
    for (run <- Seq(() => MediaStreams.dedupByEnvelope(media, "image", "ts"),
        () => MediaStreams.dedupByEnvelopeBanded(media, "image", "ts"))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("audio or video"), e.getMessage)
    }
  }
}
