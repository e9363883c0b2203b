package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.Media

/** Streaming media hygiene — the multimodal siblings of
  * [[DocStreams]]: envelope-fingerprint dedup for audio/video clips
  * arriving on a stream, built on the SAME per-payload fingerprint
  * kernels the batch operators use ([[Media.audioFingerprintOf]] /
  * [[Media.videoFingerprintOf]]), so stream and batch can never
  * disagree on what a clip's envelope is.
  */
object MediaStreams {

  /** Shared fingerprint stage: (media_id, __fp nullable, __ts) through
    * the batch kernel, with the kind resolved by the batch kind table;
    * audio takes the quantization knobs, video has none. */
  private def fingerprinted(media: DataFrame, kind: String,
      eventTimeCol: String, windowSamples: Int,
      levelStep: Int): DataFrame = {
    require(kind == "audio" || kind == "video",
      s"kind must be audio or video, got $kind")
    val (sigCol, of) = Media.kindSignature(kind, windowSamples, levelStep)
    Media.fingerprintFrame(
        media.select(col("media_id").cast("long").as("media_id"),
          col("payload"), col(eventTimeCol).cast("timestamp").as("__ts")),
        sigCol, of, "__ts")
      .withColumnRenamed(sigCol, "__fp")
  }

  /** Online exact-envelope dedup — [[DocStreams.dedupBySimhash]]'s
    * media twin: a clip whose 64-bit envelope fingerprint (audio
    * energy via [[Media.audioFingerprintOf]] when `kind = "audio"`,
    * video luminance via [[Media.videoFingerprintOf]] otherwise)
    * matches one already seen inside the watermark horizon is
    * discarded; undecodable payloads are dropped (they carry no
    * dedupable content signal — route them to a quarantine sink
    * upstream if they must be kept). For Hamming-tolerant matching
    * run the batch [[Media.nearDups]] over the survivors periodically
    * — the exact split [[DocStreams.dedupBySimhash]] documents for
    * text.
    *
    * Scale shape: the fingerprint is a narrow per-partition map (no
    * aggregation state), and dropDuplicatesWithinWatermark keeps one
    * state row per distinct envelope inside the horizon — memory
    * tracks the horizon's envelope cardinality, never the stream's
    * length or the payload bytes.
    *
    * `windowSamples`/`levelStep` are the AUDIO envelope's quantization
    * knobs and must match the batch side's (the
    * [[Media.audioFingerprintOf]] defaults [[Media.nearDups]] uses) or
    * the parity contract silently breaks — a stream fingerprinting at
    * a different window width sees different 64-bit envelopes than
    * the batch sweep; the video envelope has no knobs and ignores
    * them. */
  def dedupByEnvelope(media: DataFrame, kind: String,
      eventTimeCol: String, watermark: String = "2 hours",
      windowSamples: Int = 1000, levelStep: Int = 256): DataFrame = {
    val fp = fingerprinted(media, kind, eventTimeCol,
      windowSamples, levelStep)
    fp.filter(col("__fp").isNotNull)
      .withWatermark("__ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("__fp"))
      .select(col("media_id"), col("__fp").as("fingerprint"),
        col("__ts").as(eventTimeCol))
  }

  /** Online HAMMING-TOLERANT envelope dedup — the streaming twin of
    * the batch [[Media.nearDups]] + CC + keep-canonical chain,
    * closing the gap [[dedupByEnvelope]]
    * documents (a re-encoded clip whose envelope differs by a few
    * quantization levels slips an exact-match dedup): the clip's
    * 64-bit envelope is split into the SAME 4 x 16-bit bands the batch
    * [[Media.bandedHammingPairs]] buckets on (pigeonhole: every pair
    * within Hamming distance 3 shares a band), and each band bucket
    * runs the first-claim state machine [[DocStreams.dedupByMinhash]]
    * already implements — this is literally [[DocStreams
    * .claimSurvivors]] with envelope bands as buckets. A clip survives
    * iff it claims ALL 4 of its bands first; sharing even one live
    * band with an earlier clip absorbs it into that clip's cluster,
    * and dropped clips still hold their claimed bands, so chains
    * propagate transitively exactly like the batch connected
    * components. Emits (media_id, fingerprint, eventTimeCol) for the
    * survivors; undecodable payloads are dropped.
    *
    * Batch-parity contract (the [[DocStreams.dedupByMinhash]] one):
    * with arrival order = id order, the survivor set equals the batch
    * chain's whenever (a) no LATER clip bridges two already-distinct
    * earlier clusters and (b) no two batch-distinct clips collide on a
    * 16-bit band value — the false-positive direction the banded claim
    * trades for bounded state; an accidental same-band pair needs a
    * ~4 * 2^-16 per-pair collision inside one horizon, and re-encoded
    * duplicate groups — the case this stage exists for — share bands
    * by construction, not by accident. Claims expire `claimHorizonMs`
    * after their event time (state = one row per live band bucket in
    * the horizon — envelope cardinality, never payload bytes); the
    * downstream per-clip count aggregation is watermark-bounded the
    * same way, so survivors emit once the watermark passes their event
    * time. Requires the RocksDB state store provider
    * (transformWithState backend), like every claim-state stream. */
  def dedupByEnvelopeBanded(media: DataFrame, kind: String,
      eventTimeCol: String, watermark: String = "2 hours",
      claimHorizonMs: Long = 2L * 3600 * 1000,
      windowSamples: Int = 1000, levelStep: Int = 256): DataFrame = {
    val fp = fingerprinted(media, kind, eventTimeCol,
      windowSamples, levelStep)
    val spark = media.sparkSession
    import spark.implicits._
    // one BandRow per 16-bit band — Media.bandedHammingPairs' exact
    // bucket key, kind-prefixed so mixed pipelines can never cross-claim
    val banded = fp.filter(col("__fp").isNotNull)
      .withWatermark("__ts", watermark)
      .select(
        explode(array((0 until 4).map { b =>
          concat_ws(":", lit(kind), lit(b),
            shiftright(col("__fp"), b * 16).bitwiseAND(0xffffL))
        }: _*)).as("bucket"),
        col("__ts").as("ts"), col("media_id").as("id"),
        col("__fp").cast("string").as("text"))
      .as[DocStreams.BandRow]
    DocStreams.claimSurvivors(banded, nBands = 4,
        claimHorizonMs, "media_id", "__fpstr", eventTimeCol)
      .select(col("media_id"),
        col("__fpstr").cast("long").as("fingerprint"), col(eventTimeCol))
  }
}
