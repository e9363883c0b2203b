package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.multimodal.Media
import graft.text.TextOps
import graft.util.Barriers.FirewallOps

/** The composed crawl-to-training-shards pipeline — the end-to-end
  * product a training-data team actually runs, assembled from the
  * individually-verified stages: crawl ingestion (WARC -> HTML extract
  * -> unicode/text normalize, [[graft.sources.Warc.toCorpus]]), the
  * curation core (exact dedup -> MinHash/LSH near dedup -> language +
  * quality gates, [[TextOps.curateCorpus]]), benchmark decontamination
  * ([[TextOps.decontaminate]]), per-source token-budget mixture
  * ([[TextOps.tokenBudgetSample]]), sequence packing
  * ([[TextOps.packSequences]]' bin rule), and a leak-safe train/test
  * split ([[TextOps.leakSafeSplit]]).
  *
  * Composition is where lineage bugs hide (the t22 history: removing
  * its checkpoint barriers cost 1.8x even at 5k docs), so the barrier
  * discipline here is explicit and ID-SCALE ONLY — the corpus text is
  * never materialized by this operator:
  *
  *   - the curated id set is materialized once (ids only); every
  *     downstream stage re-reaches the corpus text through a narrow
  *     semi join against it rather than re-running the LSH cascade;
  *   - the budget survivor set (bounded at ~budgetTokens/source by
  *     construction) is materialized because both the packer and
  *     the splitter consume it;
  *
  * Barriers are [[graft.util.Barriers.firewall]] leaves, not
  * `localCheckpoint()`: a checkpoint truncates the plan to a stats-less
  * LogicalRDD, which blinds every downstream join strategy decision
  * (the r12 A/B: the composed sf0.1 pipeline ran ~35% faster on cached
  * barriers purely from recovered broadcast/plan quality), while a
  * firewall keeps its materialized stats and its lineage — so executor
  * loss or memory-pressure eviction recomputes instead of failing.
  * Every barrier is registered in [[graft.util.Barriers]], so a
  * long-lived service running many pipelines per session calls
  * `Barriers.releaseAll()` between runs — or wraps each run in
  * `Barriers.scoped { ... }` — to return the CacheManager to its
  * pre-invocation state without dropping the application's own caches
  * (which a blanket `spark.catalog.clearCache()` would).
  *   - the input corpus itself is assumed cheap to re-derive (the
  *     crawl chain is a zero-shuffle narrow map) or already on disk —
  *     at real scale a pipeline writes the extracted corpus to parquet
  *     once and reads it here; this operator adds no corpus-sized
  *     barrier of its own.
  *
  * Scale shape: the expensive stages are exactly the measured ones —
  * curateCorpus (banded LSH, candidates ∝ true dups; see BASELINE.md
  * "Curation pipeline scale steps") and decontaminate (shingle join
  * bounded by the benchmark's distinct-shingle count). Budgeting,
  * packing and splitting all operate on the post-curation survivor
  * set, and the budget prefilter caps the window input at
  * ~oversample x budget tokens per source regardless of corpus size.
  */
object Pipeline {

  /** Curated corpus -> training shards. `corpus` carries (idCol,
    * textCol, sourceCol); `bench` carries (idCol, textCol) of the
    * evaluation set to scrub. Returns one row per document that
    * survives every gate: (idCol, sourceCol, n_tokens, bin, split)
    * where `bin` is [[TextOps.packSequences]]' contiguous-fill bin
    * over the budget survivors (same window, same formula — computed
    * on the already-derived n_tokens instead of re-tokenizing) and
    * `split` is [[TextOps.leakSafeSplit]]'s whole-cluster train/test
    * assignment over the same survivors. */
  def corpusToShards(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12, keepLangs: Seq[String] = Seq("en"),
      decontamShingle: Int = 13, budgetTokens: Long = 600,
      packBudget: Int = 512, testFrac: Double = 0.2,
      scrubPii: Boolean = false): DataFrame = {
    // id-scale barrier #1: the curation survivor ids. curateCorpus's
    // own internal barriers already protect its LSH lineage; this one
    // stops decontaminate/budget/split from re-running curation.
    val curatedIds = TextOps.curateCorpus(
        corpus.select(col(idCol), col(textCol)), idCol, textCol,
        minJaccard, minTokens, maxTokens, maxTopWordFrac, keepLangs)
      .select(col(idCol)).barrierFirewall()
    val curatedRaw = corpus.join(curatedIds, Seq(idCol), "left_semi")
    // Optional PII hygiene on the survivors — scrub-LATE (after dedup,
    // before anything token-counting), the order real pipelines use so
    // masks never break dedup buckets: every downstream token count
    // (decontamination shingles, budget, packing, split signatures)
    // sees the MASKED text. A pure narrow regex cascade on the
    // already-curated rows — no new shuffle, no new barrier.
    val curated =
      if (!scrubPii) curatedRaw
      else TextOps.piiScrub(curatedRaw, idCol, textCol,
          carry = Seq(sourceCol))
        .select(col(idCol), col("clean_text").as(textCol), col(sourceCol))
    // decontaminate returns the FLAGGED docs; the pipeline drops them
    // (fail closed: any benchmark shingle overlap removes the doc).
    // FIREWALLED (id-scale): `clean` below is re-derived by three
    // consumers (the anti join itself, the budget leg, the split
    // semi-join), each of which would re-run the 13-gram
    // decontamination join; the materialized leaf also carries exact
    // size stats, so the anti join broadcasts instead of shuffling the
    // corpus by id (r17: SortMergeJoin LeftAnti -> BroadcastHashJoin
    // in the t94/t106 plans).
    val flagged = TextOps.decontaminate(curated, bench, idCol, textCol,
      decontamShingle).select(col(idCol)).barrierFirewall()
    val clean = curated.join(flagged, Seq(idCol), "left_anti")
    // id-scale barrier #2: the budget survivors (bounded per source by
    // the budget itself) feed both the packer and the splitter.
    val budgeted = TextOps.tokenBudgetSample(clean, idCol, textCol,
        sourceCol, budgetTokens)
      .select(col(sourceCol), col(idCol), col("n_tokens"))
      .barrierFirewall()
    // skew-proof prefix sum, not a per-source window (the r15
    // packSequences discipline) — budget survivors are id-scale, but
    // a mega-source would still serialize its window task
    val packed = graft.util.DistRank.perKeyRunningSum(budgeted,
        sourceCol, Seq(col(idCol)), "n_tokens", "__cum")
      .withColumn("bin",
        floor((col("__cum") - col("n_tokens")) /
          lit(packBudget.toDouble)).cast("long"))
      .drop("__cum")
    // FIREWALLED (id-scale, bounded by the budget survivors): the
    // final join's other side (`packed`) is a stats-less DistRank RDD
    // scan, so without exact stats on THIS side Spark falls back to a
    // sort-merge join — three exchanges + two sorts for two id-scale
    // frames (r17: SortMergeJoin Inner -> BroadcastHashJoin in the
    // t94/t106 plans).
    val splits = TextOps.leakSafeSplit(
      clean.join(budgeted.select(col(idCol)), Seq(idCol), "left_semi"),
      idCol, textCol, testFrac)
      .select(col(idCol), col("split")).barrierFirewall()
    packed.join(splits, Seq(idCol))
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("bin"),
        col("split"))
  }

  /** Interleaved image-caption curation — the multimodal twin of
    * [[corpusToShards]]: dedup the IMAGE side first (exact payload
    * identity — the cheap stage every image pipeline runs before any
    * decode, because re-crawled bytes are the dominant duplicate
    * class), decode only the surviving payloads (real codec round
    * trip), then run the full text curation core over the survivors'
    * captions and emit one row per document that clears both
    * modalities: (idCol, format, width, height, n_tokens).
    *
    * Stage order is the load-bearing contract: byte dedup BEFORE
    * decode (never pay the codec for a duplicate), caption curation
    * AFTER image survival (a caption dropped with its duplicate image
    * must not influence text near-dup clustering). Near-duplicate
    * IMAGE dedup (aHash bands, [[captionCurateNearDup]] with
    * `kind = "image"`) composes the same way — pairs -> CC -> drop — and
    * is pinned at spec level (PipelineSpec), where planted perturbed
    * copies make the expected clusters exact; its hash values ride
    * through lossy codecs and bilinear resampling, so an external SQL
    * oracle can only mirror the byte-identity stage.
    *
    * `media` must carry the standard media columns (media_id, kind,
    * payload) — the synthetic builders' and
    * [[graft.multimodal.Media.fromText]]'s shape; `captions` carries
    * (idCol, textCol) keyed by the same ids as media_id.
    *
    * Scale shape: the payload-hash dedup is one hash agg over
    * (md5(payload), min id) — map-side combinable, shuffle ∝ distinct
    * images; decode is per-partition and touches survivors only;
    * the caption stages inherit [[graft.text.TextOps.curateCorpus]]'s
    * measured curve. */
  def imageCaptionCurate(media: DataFrame, captions: DataFrame,
      idCol: String, textCol: String,
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12,
      keepLangs: Seq[String] = Seq("en")): DataFrame = {
    // id-scale barrier: both modalities' survivor joins consume it
    val keep = byteUnique(media).barrierFirewall()
    val meta = Media.decode(media.join(keep, Seq("media_id"), "left_semi"))
      .select(col("media_id"), col("format"), col("width"), col("height"))
    captionTail(keep, meta, captions, idCol, textCol,
      minJaccard, minTokens, maxTokens, maxTopWordFrac, keepLangs)
  }

  /** Caption curation behind NEAR-duplicate media dedup: `kind`'s
    * 64-bit fingerprint ([[graft.multimodal.Media.fingerprint]] — image
    * aHash, audio energy envelope or video luminance envelope, each a
    * real decode path) drives the banded-Hamming pair build + Hamming
    * verify + connected-components chain
    * ([[graft.multimodal.Media.bandedHammingPairs]] — hot-bucket capped
    * like every candidate generator), each near-dup cluster keeps its
    * min-id member, and the caption curation core runs over the
    * survivors only. Returns (idCol, sigCol, n_tokens) with sigCol the
    * kind's signature column (`ahash`, `afp` or `vfp`) — it pins the
    * REAL decode path: for the planted-pattern builders
    * ([[graft.multimodal.Media.syntheticPatternBmps]] and its audio and
    * video twins) it provably equals the planted pattern, which is what
    * makes the whole composition externally mirrorable (t122, t129,
    * t130). Throws IllegalArgumentException for a kind other than
    * image, audio or video.
    *
    * Stage order contract mirrors [[imageCaptionCurate]]: decode
    * happens once (the signature frame is the shared barrier), media
    * survival gates caption curation — a caption dropped with its
    * near-dup media never influences text clustering. */
  def captionCurateNearDup(media: DataFrame, captions: DataFrame,
      idCol: String, textCol: String, kind: String, maxHamming: Int = 3,
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12,
      keepLangs: Seq[String] = Seq("en")): DataFrame = {
    val nd = nearDupStages(media, kind, maxHamming)
    captionTail(nd.keep, nd.decodable, captions, idCol, textCol,
      minJaccard, minTokens, maxTokens, maxTopWordFrac, keepLangs)
  }

  /** Multimodal pipeline FUNNEL — the observability row a multimodal
    * curation team reads per ingest batch, [[graft.queries.TextQueries]]
    * t121's sibling for [[captionCurateNearDup]]: one row per stage
    * with the surviving document count, so a broken crawler
    * (decodable collapse), a templated media source (near-dup
    * collapse) or a caption-quality regression (curation collapse)
    * shows up as the stage where the funnel suddenly narrows. `kind`
    * selects the fingerprint as in [[captionCurateNearDup]] and names
    * the near-dup stage. Stages: media -> decodable (fingerprintable
    * payloads) -> <kind>_unique (banded-Hamming near-dup survivors) ->
    * curated (captions through the full curation core). Returns
    * (stage_idx, stage, n_docs); every count is an id-scale aggregate
    * over frames the pipeline builds anyway — no new shuffle class. */
  def modalFunnel(media: DataFrame, captions: DataFrame,
      idCol: String, textCol: String, kind: String, maxHamming: Int = 3,
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12,
      keepLangs: Seq[String] = Seq("en")): DataFrame = {
    val nd = nearDupStages(media, kind, maxHamming)
    val keep = nd.keep.barrierFirewall()
    val curated = curatedCaptions(keep, captions, idCol, textCol,
      minJaccard, minTokens, maxTokens, maxTopWordFrac, keepLangs)
    def stage(i: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"))
    stage(0, "media", nd.all)
      .union(stage(1, "decodable", nd.decodable))
      .union(stage(2, s"${kind}_unique", keep))
      .union(stage(3, "curated", curated))
      .orderBy("stage_idx")
  }

  /** The audio edition of [[imageCaptionCurate]]: audio-caption pairs
    * -> byte-identity dedup of the audio payloads -> REAL PCM decode of
    * the survivors into fixed windows ([[graft.multimodal.Media
    * .audioWindows]]) -> a windowed loudness gate (clips shorter than
    * `minWindows` windows, or whose mean window RMS falls below
    * `minMeanRms`, are silence/stub artifacts a speech corpus drops) ->
    * the full caption curation core over the survivors' captions.
    * Returns one row per pair clearing both modalities:
    * (idCol, n_windows, mean_rms, peak, n_tokens).
    *
    * Stage order contract (as in every composed pipeline here): audio
    * survival gates caption curation — a caption whose clip was
    * deduped or gated never influences text clustering. Per-window RMS
    * values are the 6-dp-rounded exact-sum numbers audioWindows
    * emits, and the per-clip mean is exact integer arithmetic over
    * their micro-units, so an external oracle recomputing from a
    * synthetic generation rule compares bit-identically.
    *
    * Scale shape: payload-hash dedup is one map-side-combinable hash
    * agg (shuffle ∝ distinct clips); decode is per-partition over
    * survivors only with bounded fan-out (nSamples/windowSamples rows
    * per clip); the caption stages inherit
    * [[graft.text.TextOps.curateCorpus]]'s measured curve. */
  def audioCaptionCurate(media: DataFrame, captions: DataFrame,
      idCol: String, textCol: String, windowSamples: Int = 1000,
      minWindows: Long = 2, minMeanRms: Double = 1000.0,
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12,
      keepLangs: Seq[String] = Seq("en")): DataFrame = {
    val audio = media.filter(col("kind") === "audio")
    val survivors = audio.join(byteUnique(audio), Seq("media_id"), "left_semi")
    // id-scale barrier: the gated stats feed both the caption semi
    // join and the final output join. The per-clip mean RMS is
    // computed in exact micro-units (the t63 classifier discipline):
    // each window RMS is already a 6-dp value, so sum(rms * 1e6) is an
    // exact long and the half-up mean ((2S + n) div 2n) is pure
    // integer arithmetic — a float avg() would differ from an external
    // oracle's by one ulp exactly at rounding boundaries.
    val stats = Media.audioWindows(survivors, windowSamples)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(round(col("rms") * 1e6).cast("long")).as("__sm"),
        max(col("peak")).as("peak"))
      .withColumn("__mm",
        expr("(__sm * 2 + n_windows) div (n_windows * 2)"))
      .filter(col("n_windows") >= minWindows &&
        col("__mm") >= math.round(minMeanRms * 1e6))
      .select(col("media_id"), col("n_windows"),
        (col("__mm").cast("double") / 1e6).as("mean_rms"), col("peak"))
      .barrierFirewall()
    captionTail(stats, stats, captions, idCol, textCol,
      minJaccard, minTokens, maxTokens, maxTopWordFrac, keepLangs)
  }

  /** The video edition of [[imageCaptionCurate]]: video-caption pairs
    * -> byte-identity dedup of the video payloads -> REAL container
    * walk + frame decode of the survivors ([[graft.multimodal.Media
    * .videoFrames]], AVI/MP4/MKV uncompressed payloads) -> a frame
    * gate (clips with fewer than `minFrames` decodable frames are
    * stills/stubs; clips whose mean frame luminance falls below
    * `minMeanGray` are black-frame artifacts) -> the full caption
    * curation core over the survivors' captions. Returns
    * (idCol, n_frames, width, height, mean_gray, n_tokens).
    *
    * Per-frame means are 6-dp rounded and the per-clip average is
    * exact micro-unit integer arithmetic over them, so the composition
    * is bit-stable for an external oracle recomputing from a
    * synthetic pixel rule. Scale
    * shape mirrors [[audioCaptionCurate]]: one hash agg for the byte
    * dedup, per-partition decode over survivors with per-clip bounded
    * frame fan-out, curation core on the caption side. */
  def videoCaptionCurate(media: DataFrame, captions: DataFrame,
      idCol: String, textCol: String,
      minFrames: Long = 2, minMeanGray: Double = 20.0,
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12,
      keepLangs: Seq[String] = Seq("en")): DataFrame = {
    val video = media.filter(col("kind") === "video")
    val survivors = video.join(byteUnique(video), Seq("media_id"), "left_semi")
    // exact micro-unit mean over the 6-dp per-frame means, as in
    // [[audioCaptionCurate]] — integer half-up, no float-avg ulp drift
    val stats = Media.videoFrames(survivors)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        max(col("f_width")).as("width"),
        max(col("f_height")).as("height"),
        sum(round(round(col("mean_gray"), 6) * 1e6).cast("long"))
          .as("__sg"))
      .withColumn("__mg",
        expr("(__sg * 2 + n_frames) div (n_frames * 2)"))
      .filter(col("n_frames") >= minFrames &&
        col("__mg") >= math.round(minMeanGray * 1e6))
      .select(col("media_id"), col("n_frames"), col("width"),
        col("height"),
        (col("__mg").cast("double") / 1e6).as("mean_gray"))
      .barrierFirewall()
    captionTail(stats, stats, captions, idCol, textCol,
      minJaccard, minTokens, maxTokens, maxTopWordFrac, keepLangs)
  }

  /** Byte-identity media dedup: the min media_id of each distinct
    * payload (md5) — one map-side-combinable hash agg, shuffle ∝
    * distinct payloads. */
  private def byteUnique(media: DataFrame): DataFrame =
    media.groupBy(md5(col("payload")).as("__h"))
      .agg(min(col("media_id")).as("media_id"))
      .select("media_id")

  /** The near-dup stages [[captionCurateNearDup]] and [[modalFunnel]]
    * share. `all` is `kind`'s fingerprint frame, one row per media row
    * (null signature for undecodable payloads), and it is the barrier:
    * decode runs once, and the funnel's media count reads it instead of
    * a second pass over the payloads. `decodable` drops the null
    * signatures; `keep` holds the min-id survivor of each
    * banded-Hamming near-dup cluster. */
  private final case class NearDupStages(all: DataFrame,
      decodable: DataFrame, keep: DataFrame)

  private def nearDupStages(media: DataFrame, kind: String,
      maxHamming: Int): NearDupStages = {
    val (sigCol, of) = Media.kindSignature(kind)
    val all = Media.fingerprintFrame(media, sigCol, of).barrierFirewall()
    val decodable = all.filter(col(sigCol).isNotNull)
    val pairs = Media.bandedHammingPairs(decodable, sigCol, maxHamming)
      .select("a_id", "b_id")
    NearDupStages(all, decodable, TextOps.dropNearDuplicates(
      decodable.select("media_id"), "media_id", pairs))
  }

  /** The captions of the surviving media (`ids` carries media_id)
    * through the full curation core. */
  private def curatedCaptions(ids: DataFrame, captions: DataFrame,
      idCol: String, textCol: String, minJaccard: Double, minTokens: Long,
      maxTokens: Long, maxTopWordFrac: Double,
      keepLangs: Seq[String]): DataFrame =
    TextOps.curateCorpus(
      captions.select(col(idCol), col(textCol))
        .join(ids.select(col("media_id").as(idCol)), Seq(idCol), "left_semi"),
      idCol, textCol, minJaccard, minTokens, maxTokens, maxTopWordFrac,
      keepLangs)

  /** The caption tail every media-caption pipeline ends in: the
    * surviving media's captions through the curation core
    * ([[curatedCaptions]]), joined back to the per-media columns of
    * `perMedia` (media_id first), plus each caption's token count.
    * Returns (idCol, perMedia's other columns..., n_tokens). */
  private def captionTail(ids: DataFrame, perMedia: DataFrame,
      captions: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, minTokens: Long, maxTokens: Long,
      maxTopWordFrac: Double, keepLangs: Seq[String]): DataFrame = {
    val curated = curatedCaptions(ids, captions, idCol, textCol,
      minJaccard, minTokens, maxTokens, maxTopWordFrac, keepLangs)
    // perMedia's own media_id is renamed before the join so a caller
    // whose idCol IS "media_id" cannot hit an ambiguous reference
    val side = perMedia.withColumnRenamed("media_id", "__mid")
    curated.join(side, curated(idCol) === side("__mid"))
      .select(col(idCol) +: perMedia.columns.tail.map(col) :+
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"): _*)
  }

  /** CROSS-MODAL duplicate clustering — the LAION-style rule "a pair
    * is a duplicate if EITHER modality matches": image near-dup edges
    * (aHash band join + Hamming verify,
    * [[graft.multimodal.Media.nearDups]]) are unioned with text
    * near-dup edges (the banded MinHash candidate convention the
    * dedup chain uses everywhere, [[TextOps.lshCandidatePairs]] over
    * [[TextOps.lshBuckets]]) into ONE connected-components pass, so a
    * re-captioned copy of an image and a re-encoded image under the
    * same caption land in the same cluster even though each modality
    * alone only sees half the evidence. Returns (idCol, cluster) for
    * every document in any cross-modal pair; feed to
    * [[TextOps.dropNearDuplicates]]-style survivor selection as usual.
    *
    * Scale shape: both edge generators are hot-bucket capped and
    * linear in true dups; the union adds one distinct and the CC pass
    * is the standard O(log diameter) pointer-jumping loop — no new
    * shuffle class beyond the per-modality chains. */
  def crossModalDupClusters(media: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3,
      k: Int = 8, rows: Int = 2): DataFrame =
    crossModalClusters(Seq(Media.nearDups(media, "image", maxHamming)),
      docs, idCol, textCol, k, rows)

  /** [[crossModalDupClusters]] over ALL FOUR modalities — image aHash,
    * audio energy-envelope, video luminance-envelope, and text MinHash
    * edges unioned into the one CC pass: an item is a dup of another
    * if ANY modality matches, and clusters merge relations no single
    * modality sees (the re-encoded clip whose caption was rewritten,
    * the reposted image whose audio track survived). All three media
    * frames carry (media_id, payload) keyed by the same id space as
    * `docs(idCol)`.
    *
    * Scale shape: all four edge generators ride the shared hot-bucket
    * capped kernel ([[TextOps.lshCandidatePairs]] directly or through
    * [[graft.multimodal.Media.bandedHammingPairs]]), so every family
    * is linear in true dups; the union adds one distinct and the CC
    * pass is the standard O(log diameter) pointer-jumping loop — no
    * new shuffle class beyond the per-modality chains. */
  def crossModalDupClustersAll(images: DataFrame, audio: DataFrame,
      video: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, k: Int = 8, rows: Int = 2): DataFrame =
    crossModalClusters(Seq(Media.nearDups(images, "image", maxHamming),
        Media.nearDups(audio, "audio", maxHamming),
        Media.nearDups(video, "video", maxHamming)),
      docs, idCol, textCol, k, rows)

  /** The cross-modal body: media near-dup edge frames (a_id, b_id, ...)
    * and the text MinHash edges of `docs`, unioned in that order into
    * one connected-components pass. */
  private def crossModalClusters(mediaPairs: Seq[DataFrame], docs: DataFrame,
      idCol: String, textCol: String, k: Int, rows: Int): DataFrame = {
    val bux = TextOps.lshBuckets(
      TextOps.minhashSignature(docs, idCol, textCol, k), idCol, k, rows)
    val tpairs = TextOps.lshCandidatePairs(bux, idCol)
    TextOps.nearDupClusters(
        (mediaPairs.map(_.select(col("a_id"), col("b_id"))) :+ tpairs)
          .reduce(_ union _).distinct())
      .select(col("id").as(idCol), col("cluster"))
  }

  /** WARC files -> training shards: [[graft.sources.Warc.toCorpus]]'s
    * narrow ingest chain (record walk -> HTTP body -> HTML extract ->
    * normalize) feeding [[corpusToShards]]. `warc` carries
    * (warcIdCol, payloadCol); `sources` maps idCol -> sourceCol for
    * the mixture stage (a crawl manifest); `bench` as above.
    *
    * NOT fully lazy: this method EAGERLY runs the WARC-walk/extract/
    * normalize job at CALL time to populate the corpus barrier (the
    * measured-cheapest way to stop its wide first consumer wave racing
    * to recompute the crawl chain — A/B numbers inline below). Callers
    * that only compose or `.explain` the returned plan still pay that
    * one ingest job. */
  def crawlToShards(warc: DataFrame, warcIdCol: String, payloadCol: String,
      sources: DataFrame, bench: DataFrame, idCol: String,
      textCol: String = "text", sourceCol: String = "source",
      minJaccard: Double = 0.5, minTokens: Long = 20, maxTokens: Long = 80,
      maxTopWordFrac: Double = 0.12, keepLangs: Seq[String] = Seq("en"),
      decontamShingle: Int = 13, budgetTokens: Long = 600,
      packBudget: Int = 512, testFrac: Double = 0.2,
      scrubPii: Boolean = false): DataFrame = {
    // Materialize the EXTRACTED corpus once — the in-process stand-in
    // for the parquet write every real crawl pipeline does between
    // ingest and curation. Without it, each downstream consumer
    // (curateCorpus references its input four times; decontaminate,
    // budget and split re-reach it again) re-runs the whole WARC
    // record walk + 17-stage regex cascade per reference: measured
    // 22.5 s -> ~7 s for the sf0.1 bench query, and populating it once
    // up front is cheaper than spilling it to real parquet (12.07 vs
    // 14.3 s). The barrier is the extracted TEXT (what the real
    // pipeline persists), never the raw WARC bytes — one of the two
    // measured exceptions to the narrow-barrier rule
    // ([[graft.util.Barriers.firewall]]).
    val corpus = graft.sources.Warc.toCorpus(warc, warcIdCol, payloadCol)
      .select(col(warcIdCol).as(idCol), col("text").as(textCol))
      .join(sources.select(col(idCol), col(sourceCol)), Seq(idCol))
      .barrierFirewall()
    corpusToShards(corpus, bench, idCol, textCol, sourceCol, minJaccard,
      minTokens, maxTokens, maxTopWordFrac, keepLangs, decontamShingle,
      budgetTokens, packBudget, testFrac, scrubPii)
  }
}
