package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextOps
import graft.util.Barriers.FirewallOps

/** LLM-data-pipeline operators over `documents` and `embeddings`:
  * exact/near dedup, text statistics, language ID, similarity search.
  * Hashing is md5-based so the DuckDB oracle can replicate bit-for-bit.
  */
object TextQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic synthetic URL per document — shared by t62 (domain
    * cap) and t87 (blocklist filter): mixed-case schemes/hosts,
    * default and explicit ports, tracking params, fragments, and
    * multi-part-TLD hosts so every canonicalization rule fires. The
    * SQL twin is the `u` CTE inside [[URL_DM_CTES]]. */
  private def syntheticUrlExpr: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    val hostArr = array(lit("WWW.Example.COM"), lit("news.Site.co.uk"),
      lit("a.b.Example.org"), lit("Sub.Domain.example.com"),
      lit("cdn.media.ac.uk"))
    concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      element_at(hostArr, (id % 5 + 1).cast("int")),
      when(id % 3 === 0,
          when(id % 2 === 0, lit(":80")).otherwise(lit(":443")))
        .when(id % 7 === 0, lit(":8080")).otherwise(lit("")),
      lit("/p/"), (id % 11).cast("string"),
      when(id % 4 === 0, concat(lit("?utm_source=x&id="), id.cast("string"),
          lit("&utm_campaign=Y")))
        .when(id % 4 === 1, concat(lit("?id="), id.cast("string"),
          lit("&fbclid=abc")))
        .when(id % 4 === 2, lit(""))
        .otherwise(lit("?a=1&b=2")),
      when(id % 2 === 1, lit("#frag")).otherwise(lit("")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup groups by content hash
    "t01_exact_dedup" -> ((s, dir) => {
      TextOps.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    }),

    // token statistics per document
    "t02_token_stats" -> ((s, dir) => {
      TextOps.tokenStats(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("avg_token_len", round(col("avg_token_len"), 6))
        .orderBy("doc_id")
    }),

    // BPE-style pretokenizer token budgeting per document
    "t15_bpe_tokens" -> ((s, dir) => {
      TextOps.bpeTokenStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // language-ID heuristic + type-token ratio quality signal
    "t03_lang_quality" -> ((s, dir) => {
      TextOps.langQuality(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // MinHash signatures (8 hashes over 3-word shingles)
    "t04_minhash_signature" -> ((s, dir) => {
      TextOps.minhashSignature(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .select("doc_id", "signature")
        .orderBy("doc_id")
    }),

    // LSH band buckets with >1 member = near-dup candidate groups
    "t05_lsh_candidates" -> ((s, dir) => {
      val sigs = TextOps.minhashSignature(t(s, dir, "documents"), "doc_id", "text", k = 8)
      TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .filter(col("n") > 1)
        .orderBy("bucket")
    }),

    // exact Jaccard verification of the LSH candidate pairs — the
    // bucket -> candidates -> verify dedup loop end-to-end
    "t12_jaccard_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
      // barrier: the candidate kernel reads bux twice (rows leg, stats
      // leg), so the minhash chain would re-derive per kernel leg.
      // (The t119 note above applies here too: sharing
      // one distinct-shingle frame across the two legs was A/B'd r18
      // and measured slower; the two-pass shape stands.)
      val bux = TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2)
        .barrierFirewall()
      val pairs = TextOps.lshCandidatePairs(bux, "doc_id")
      TextOps.jaccardPairs(docs, "doc_id", "text", pairs)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // 16-bit SimHash per document
    "t06_simhash" -> ((s, dir) => {
      TextOps.simhash16(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // SRP-LSH near-duplicate candidate buckets over embeddings
    "t08_srp_buckets" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.sim.Similarity.srpCandidates(emb, "vec_id", "embedding", srpPlanes)
        .orderBy("srp_sig")
    }),

    // embedding-cosine near-dup: SRP candidates -> exact cosine verify
    "t16_cosine_near_dup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.sim.Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
          srpPlanes, minCosine = 0.2)
        .orderBy("a_id", "b_id")
    }),

    // IVF cell assignment (inverted-file ANN partitioning)
    "t09_ivf_cells" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4)
      graft.sim.Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
        .select("vec_id", "cell")
        .orderBy("vec_id")
    }),

    // end-to-end IVF ANN search: assign cells, probe the 2 closest cells
    // per query, brute-force only inside them
    "t11_ivf_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4)
      val qs = emb.filter(col("vec_id") >= 4 && col("vec_id") < 7)
      val indexed = graft.sim.Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
      graft.sim.Similarity.ivfSearch(indexed, centroids, qs,
          "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy("query_id", "cand_id")
    }),

    // near-dup cluster resolution: LSH candidates -> connected
    // components -> (doc, canonical) pairs for the non-canonical members
    "t14_near_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
      // barrier: the candidate kernel reads bux twice, so the minhash
      // chain would re-derive per leg (`graft.tools.QueryStats jobs`)
      val bux = TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2)
        .barrierFirewall()
      val pairs = TextOps.lshCandidatePairs(bux, "doc_id")
      TextOps.nearDupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }),

    // t14's cluster resolution with the DISTRIBUTED label-propagation
    // loop FORCED (maxLocalEdges = 0 disables the bounded union-find
    // fast path): the oracle certifies the pointer-jumping iteration
    // itself — the path a 100 TB candidate graph actually takes — not
    // just the driver-side shortcut the small-SF default picks.
    "t150_near_dedup_distributed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
      // barrier: same two-leg kernel read as t14
      val bux = TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2)
        .barrierFirewall()
      val pairs = TextOps.lshCandidatePairs(bux, "doc_id")
      TextOps.nearDupClusters(pairs, maxLocalEdges = 0)
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }),

    // Exact triangle counts + local clustering coefficient over the
    // deterministic doc-id link graph (ring, skip-ring, and ~1000
    // modular hub links — the hubs give real degree skew): the
    // degree-orientation enumeration, where a hub's huge IN-degree
    // never becomes a wedge blow-up because wedges pair OUT-edges
    // only. Coefficient = 2T/(d(d-1)) rounded identically in both
    // engines; the mirror enumerates canonical x<y<z triangles with
    // no orientation, so agreement certifies the construction, not a
    // shared shortcut.
    "t151_triangle_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
          ((col("doc_id") + 1) % n).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          ((col("doc_id") + 2) % n).as("dst")))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 1009).as("dst")))
      graft.ops.LinkRank.triangleCounts(edges, "src", "dst")
        .withColumn("clustering",
          when(col("degree") >= 2,
            round(col("triangles") * lit(2.0) /
              (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)))
        .orderBy("node")
    }),

    // IVF centroid training: 2 Lloyd iterations from a deterministic
    // seed, then assign the corpus to the trained cells
    "t13_kmeans_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val trained = graft.sim.Similarity.kmeansCentroids(
        emb, "vec_id", "embedding", initIds = Seq(0L, 1L, 2L, 3L), iterations = 2)
      graft.sim.Similarity.ivfAssign(emb,
          trained.select(col("cell").as("vec_id"), col("centroid").as("embedding")),
          "vec_id", "embedding")
        .select("vec_id", "cell")
        .orderBy("vec_id")
    }),

    // multimodal decode: structurally valid BMP/WAV payloads built then
    // genuinely header-parsed back — the oracle recomputes the expected
    // metadata from the construction rule, so a parser bug hash-fails
    "t10_media_decode" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticMedia(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Media.decode(media).orderBy("media_id")
    }),

    // multimodal video metadata: real MP4 containers built, then the
    // ISO-BMFF box tree (moov/mvhd + trak/tkhd) is genuinely walked
    // back — no stub in this path; the oracle recomputes the expected
    // metadata from the construction rule
    "t29_media_video" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticVideos(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Media.decode(media).orderBy("media_id")
    }),

    // end-to-end corpus curation: exact dedup -> LSH+Jaccard near-dup
    // removal -> lang/length/repetition quality gate, one composed plan
    "t22_curate_corpus" -> ((s, dir) => {
      TextOps.curateCorpus(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "text")
        .orderBy("doc_id")
    }),

    // deterministic weighted mixture sampling across corpus sources
    "t23_mixture_sample" -> ((s, dir) => {
      TextOps.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 0.9, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // epoch-style mixture upsampling: src0 weighted 2.3x (every doc
    // twice, a deterministic ~30% three times), src1 1x, src2 0.5x
    "t37_mixture_upsample" -> ((s, dir) => {
      TextOps.mixtureUpsample(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 2.3, "src1" -> 1.0, "src2" -> 0.5))
        .select("doc_id", "source", "copy")
        .orderBy("doc_id", "copy")
    }),

    // contiguous-fill sequence packing into 512-token bins per source
    "t24_pack_sequences" -> ((s, dir) => {
      TextOps.packSequences(t(s, dir, "documents"), "doc_id", "text",
          "source", budget = 512)
        .orderBy("doc_id")
    }),

    // PII scrubbing: typed masks + per-class match counts
    "t25_pii_scrub" -> ((s, dir) => {
      TextOps.piiScrub(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // corpus-level top-100 bigrams with deterministic tie-break
    "t26_top_ngrams" -> ((s, dir) => {
      TextOps.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 100)
    }),

    // SimHash near-dup: band-bucketed candidates + exact Hamming verify
    "t21_simhash_pairs" -> ((s, dir) => {
      TextOps.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("a_id", "b_id")
    }),

    // multi-language ID: function-word profile ratios + argmax
    "t20_lang_id" -> ((s, dir) => {
      graft.text.TextOps.langId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Gopher/MassiveText repetition quality signals: top-word and
    // duplicate-bigram fractions per document
    "t19_repetition_stats" -> ((s, dir) => {
      graft.text.TextOps.repetitionStats(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // winnowing fingerprints (MOSS): per-document distinct window-min
    // gram hashes — the local-similarity sketch for provenance detection
    "t17_winnow_fingerprint" -> ((s, dir) => {
      graft.text.TextOps.winnowFingerprints(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "fp")
    }),

    // real-codec round trip: PNG/JPEG payloads produced by the JVM's
    // actual encoders, probed back via ImageIO; the oracle predicts
    // format and dimensions from the construction rule alone
    "t18_media_image" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticImages(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Media.decode(media)
        .select("media_id", "format", "width", "height")
        .orderBy("media_id")
    }),

    // brute-force cosine top-5 neighbors for query vectors (vec_id < 3) —
    // the library operator (guarded broadcast + codegen'd Dot kernel)
    "t07_cosine_topk" -> ((s, dir) => {
      val d = t(s, dir, "embeddings")
      val q = d.filter(col("vec_id") < 3)
      graft.sim.Similarity.cosineTopK(d, q, "vec_id", "embedding", k = 5)
        .select(col("query_id").as("qid"), col("cand_id"), col("score"))
        .orderBy(col("qid"), desc("score"), col("cand_id"))
    }),

    // test-set decontamination: corpus docs (id >= 50) sharing 3-word
    // shingles with the "benchmark" docs (id < 50), with overlap counts
    "t28_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.decontaminate(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", shingleWords = 3)
        .orderBy("doc_id")
    }),

    // k-NN majority-vote label propagation over the labeled embedding
    // corpus (weak supervision): 20 query vectors, 5 cosine neighbors
    "t27_knn_classify" -> ((s, dir) => {
      val d = t(s, dir, "embeddings")
      val q = d.filter(col("vec_id") < 20)
      graft.sim.Similarity.knnClassify(d, q, "vec_id", "embedding", "label", k = 5)
        .select(col("query_id").as("qid"), col("pred_label"), col("votes"))
        .orderBy("qid")
    }),

    // CCNet-style segment-level exact dedup: the corpus-wide first
    // occurrence of each distinct segment survives (synthetic docs have
    // no newlines, so the query segments on the literal word " the ")
    "t30_segment_dedup" -> ((s, dir) => {
      TextOps.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
          sep = " the ")
        .orderBy("doc_id")
    }),

    // C4-style line filtering: >= 4 words per segment, no banned term,
    // docs must keep >= 2 segments
    "t31_line_filter" -> ((s, dir) => {
      TextOps.lineFilter(t(s, dir, "documents"), "doc_id", "text",
          sep = " the ", minWords = 4, banned = Seq("slow"),
          requireTerminal = false, minKeptLines = 2)
        .orderBy("doc_id")
    }),

    // per-document top-3 tf-idf keywords
    "t32_tfidf_terms" -> ((s, dir) => {
      TextOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk")
    }),

    // PQ encode of the whole embedding corpus: 4 subspaces x 16 dims,
    // codebook = subvectors of the first 16 vectors. The codes array is
    // emitted comma-joined (scalar-sortable) so the cross-engine harness
    // can sort/hash the rows — array-typed columns defeat its comparator.
    "t33_pq_encode" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.sim.Similarity.pqCodebook(
        emb.filter(col("vec_id") < 16), "vec_id", "embedding", m = 4, subDim = 16)
      graft.sim.Similarity.pqEncode(emb, cb, "vec_id", "embedding",
          m = 4, subDim = 16)
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))
        .orderBy("vec_id")
    }),

    // Bloom-filter decontamination: same bench/corpus split as t28 but
    // through a 65536-bit / 4-hash filter — the compact-filter scale path
    "t36_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bloomDecontaminate(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", shingleWords = 3, mBits = 65536L, kHashes = 4)
        .orderBy("doc_id")
    }),

    // deterministic shard assignment + within-shard shuffle order — the
    // reproducible global shuffle before a partitioned training write
    "t35_shard_assign" -> ((s, dir) => {
      TextOps.shardAssign(t(s, dir, "documents"), "doc_id", nShards = 8)
        .select("doc_id", "shard", "seq")
        .orderBy("doc_id")
    }),

    // ADC search over the PQ codes: queries 16..18, top-5 by approximate
    // squared L2 — the compressed-domain ANN scan
    "t34_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.sim.Similarity.pqCodebook(
        emb.filter(col("vec_id") < 16), "vec_id", "embedding", m = 4, subDim = 16)
      val codes = graft.sim.Similarity.pqEncode(emb, cb, "vec_id", "embedding",
        m = 4, subDim = 16)
      val qs = emb.filter(col("vec_id") >= 16 && col("vec_id") < 19)
      graft.sim.Similarity.pqAdcSearch(codes, cb, qs, "vec_id", "embedding",
          m = 4, subDim = 16, k = 5)
        .orderBy("query_id", "cand_id")
    }),

    // token-window chunking (RAG prep): 16-token windows, 4-token overlap
    "t38_chunk_documents" -> ((s, dir) => {
      TextOps.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 16, overlap = 4)
        .orderBy("doc_id", "chunk_id")
    }),

    // deterministic exact-k stratified sample: 5 docs per source;
    // oversample=2 makes the skew-guard prefilter non-trivial at this SF
    // (p = 10/25 = 0.4 of each stratum reaches the rank)
    "t39_stratified_sample" -> ((s, dir) => {
      TextOps.stratifiedSample(t(s, dir, "documents"), "doc_id", "source",
          k = 5, oversample = 2.0)
        .select("source", "doc_id", "rank")
        .orderBy("source", "rank")
    }),

    // bigram-LM cross-entropy: train on docs < 250, score docs >= 250
    // (the CCNet quality-filter setup; exercises unseen-bigram smoothing)
    "t40_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.lmScore(docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "doc_id", "text", alpha = 0.1)
        .orderBy("doc_id")
    }),

    // SemDeDup: same trained k-means as t13, then drop any vector with
    // an earlier same-cell member at rounded cosine >= 0.3 (the
    // synthetic embeddings are near-random, so 0.3 ~ the p99 pair sim
    // — a non-trivial but not corpus-clearing threshold at this SF).
    // Runs the DEFAULT (cap-500) path: no cell exceeds the cap at this
    // SF, so values match the uncapped algorithm but cell ids are the
    // guard's strings — the oracle casts to match.
    "t41_semantic_dedup" -> ((s, dir) => {
      graft.sim.Similarity.semDedup(t(s, dir, "embeddings"), "vec_id",
          "embedding", initIds = Seq(0L, 1L, 2L, 3L), iterations = 2,
          simThreshold = 0.3)
        .orderBy("vec_id")
    }),

    // REAL video frame-pixel extraction: uncompressed AVI containers
    // built with a deterministic pixel rule, then the raw BI_RGB frames
    // are genuinely decoded back — the oracle recomputes each frame's
    // mean gray from the rule, so a frame-decode bug hash-fails
    "t43_video_frames" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticAviVideos(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Media.videoFrames(media)
        .select(col("media_id"), col("frame_idx"), col("f_width"),
          col("f_height"), round(col("mean_gray"), 6).as("mean_gray"))
        .orderBy("media_id", "frame_idx")
    }),

    // hashed-bigram logistic regression — the in-engine fastText-style
    // quality/domain classifier: trained on docs < 250 labeled en/not-en
    // (8 full-batch GD iterations, micro-unit gradient sums, 6-dp
    // rounds), scored over the whole corpus. The oracle re-runs the
    // ENTIRE training loop unrolled in SQL, so the learned model
    // itself is hash-checked, not just the scoring pass. The synthetic
    // corpus's text is label-independent, so the correct fit is the
    // class prior (scores cluster at the base rate) — the math is what
    // this row checks; separation on separable data is ClassifierSpec's.
    "t63_quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.filter(col("doc_id") < 250)
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      val model = graft.text.Classifier.trainTextClassifier(
        labeled, "doc_id", "text", "y")
      graft.text.Classifier.scoreTextClassifier(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // one-vs-rest multi-class scoring (FineWeb-Edu-style ordinal
    // curation is this mechanism with quality-tier labels): 5 language
    // classes, ONE shared feature pass, k binary GD loops at 4
    // iterations (the mirror re-runs all 5 trainings — 8 would double
    // a DuckDB chain that is already the registry's largest), argmax
    // with class-name tie-break
    "t96_multiclass_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = docs.filter(col("doc_id") < 250)
      val model = graft.text.Classifier.trainMultiClassClassifier(
        labeled, "doc_id", "text", "lang", iterations = 4)
      graft.text.Classifier.scoreMultiClassClassifier(
          docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // URL canonicalization + per-domain cap over a deterministic
    // synthetic url column (mixed-case schemes/hosts, default and
    // explicit ports, tracking params, fragments, multi-part TLDs —
    // every canonicalization rule exercised); the cap is the t39
    // prefiltered-rank sampler keyed on the registrable domain
    "t62_domain_cap" -> ((s, dir) => {
      val id = col("doc_id")
      val withUrl = t(s, dir, "documents").select(id,
        syntheticUrlExpr.as("url"))
      val canon = graft.text.UrlOps.canonicalizeUrls(withUrl, "doc_id", "url")
      val kept = graft.text.UrlOps.capPerDomain(withUrl, "doc_id", "url",
        maxPerDomain = 40)
      canon.select("doc_id", "url_canon", "domain")
        .join(kept.select(col("doc_id"), col("rank")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("url_canon"), col("domain"),
          col("rank").isNotNull.as("kept"), col("rank"))
        .orderBy("doc_id")
    }),

    // the flagship crawl-to-training-shards composition: WARC record
    // walk -> HTTP body -> HTML extract -> normalize (t88/t85/t83) ->
    // exact + near dedup + language/quality gates (t22's core) ->
    // 13-gram benchmark decontamination (t28's join at the Lee et al.
    // gram width; bench = every 17th raw doc as the planted eval set;
    // 3-grams would collide corpus-wide at sf0.1 and empty the output)
    // -> per-source token-budget mixture (t86) -> contiguous
    // -fill packing (t24) -> leak-safe train/test split (t53), as ONE
    // plan. The mirror re-derives every stage from the same sources.
    // the t94 composition with PII hygiene ON: every 5th doc carries a
    // planted email/IP/long-digit-run suffix; crawlToShards(scrubPii =
    // true) masks the curated survivors scrub-LATE (after dedup, before
    // token counting), so decontamination shingles, budget tokens,
    // packing and split signatures all see the masked text — the full
    // production stage order, observable because the masks change
    // token counts
    "t106_crawl_pipeline_pii" -> ((s, dir) => {
      // quarter corpus, corpus->shards only: t94 already carries the
      // full-corpus crawl composition in the bench; this variant exists
      // to pin ONE contract — the scrub-LATE stage order inside
      // corpusToShards (curation gates read raw text, every downstream
      // token consumer reads masked text) — and the WARC/HTML ingest
      // prefix adds nothing to that contract (it is individually
      // anchored by t85/t88/t90 and composed in t94). The r11 shape
      // re-ran the whole crawl chain on the half corpus and paid ~92%
      // of t94's bench price for the one extra assertion; measured
      // (graft.tools.PipelineBudget): 19.3 s -> ~7 s with the contract intact.
      val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact bob"), col("doc_id").cast("string"),
              lit("@mail.example.com or 10.0.0.1 ref 123456789012")))
            .otherwise(lit(""))).as("text"),
        col("source"))
      val bench = t(s, dir, "documents").filter(col("doc_id") % 17 === 0)
        .select("doc_id", "text")
      graft.pipeline.Pipeline.corpusToShards(
          graft.util.FanOut(planted), bench, "doc_id", "text", "source",
          scrubPii = true)
        .orderBy("doc_id")
    }),

    "t94_crawl_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the WARC build/parse/extract chain multiplies work per row, and
      // a single-file scan arrives as 1-2 tasks — fan out first so the
      // ingest leg uses every core (FanOut's small-file guard)
      val warc = graft.sources.Warc.buildWarc(
        graft.util.FanOut(docs), "doc_id", "text")
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select("doc_id", "text")
      graft.pipeline.Pipeline.crawlToShards(warc, "warc_id", "payload",
          docs.select("doc_id", "source"), bench, idCol = "doc_id")
        .orderBy("doc_id")
    }),

    // domain-diversity monitoring: HLL distinct registrable domains
    // per source — a source whose crawl collapses onto few domains is
    // a scraped silo; composes the PSL derivation with the mergeable
    // HLL register machinery (t62 x t73)
    "t93_domain_diversity" -> ((s, dir) => {
      val withUrl = t(s, dir, "documents").select(col("doc_id"),
        col("source"), syntheticUrlExpr.as("url"))
      val canon = graft.text.UrlOps.canonicalizeUrls(withUrl,
        "doc_id", "url")
      val dom = canon.filter(col("domain").isNotNull)
      // min/max registrable domain per source: string-SENSITIVE guard
      // columns (r11: the HLL estimate alone is insensitive to WHICH
      // domain strings the upstream URL/PSL chain derives, so a
      // drifted oracle mirror stayed green here while t62/t87 failed —
      // these columns make any domain-string drift redden t93 too)
      val mm = dom.groupBy("source").agg(
        min("domain").as("domain_min"), max("domain").as("domain_max"))
      TextOps.hllDistinct(dom, "source", col("domain"), p = 8)
        .join(mm, "source")
        .orderBy("source")
    }),

    // within-document segment dedup over planted in-page boilerplate
    // (a banner segment injected twice, a footer repeated, plus two
    // unique segments and a blank) — entirely in-row, keep-first order
    "t92_within_doc_dedup" -> ((s, dir) => {
      val banner = lit("ACCEPT COOKIES to continue")
      val ptext = concat(
        banner, lit("\n\n"), lit("para one "), col("doc_id").cast("string"),
        lit("\n\n"), banner, lit("\n\n"), lit("  \n\n"),
        substring(col("text"), 1, 40), lit("\n\nfooter legal\n\nfooter legal"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        ptext.as("ptext"))
      TextOps.dedupWithinDoc(docs, "doc_id", "ptext")
        .orderBy("doc_id")
    }),

    // filter-ablation cube: three SQL-expressible quality signals
    // (token floor, char ceiling, digit-fraction cap) cubed so every
    // joint/marginal kill count lands in one aggregate
    "t91_filter_ablation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nTok = size(TextOps.tokens(col("text"))).cast("long")
      val nDigit = length(regexp_replace(col("text"), "[^0-9]", ""))
      TextOps.filterAblation(docs, Seq(
        "len_ok" -> (nTok >= 60),
        "chars_ok" -> (length(col("text")) <= 2000),
        "digits_ok" -> (nDigit.cast("double") <
          length(col("text")).cast("double") * 0.05)))
        .orderBy("len_ok", "chars_ok", "digits_ok")
    }),

    // crawl-to-corpus composition: WARC -> HTTP body -> HTML extract
    // -> normalize, one narrow zero-shuffle chain; the mirror
    // re-derives all three stages from their shared single sources
    "t90_crawl_corpus" -> ((s, dir) => {
      val warc = graft.sources.Warc.buildWarc(
        t(s, dir, "documents"), "doc_id", "text")
      graft.sources.Warc.toCorpus(warc, "warc_id", "payload")
        .select(col("warc_id").as("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // DOM-free main-content extraction (trafilatura's core heuristic):
    // block segmentation at sectioning tags, per-block text-length +
    // link-density scoring — the planted page carries a link-saturated
    // nav, a real article <p>, a link-sparse prose <div>, a related-
    // links <aside> and a short <footer>; only the two content blocks
    // must survive, entities decoded
    // one-permutation MinHash registers + pairwise source overlap:
    // the register-tier (streaming-safe, min-mergeable) sibling of
    // t103's KMV — k bucket-minima per source, match fraction over
    // shared buckets estimates the shingle-set Jaccard
    "t105_source_overlap_registers" -> ((s, dir) => {
      // barrier: minhashRegisterOverlap's a/b legs both read the
      // registers; they are |sources| x k rows, id-scale
      val regs = TextOps.minhashRegisters(
        t(s, dir, "documents").select(col("source"),
          explode(TextOps.shinglesOf(col("text"), 3)).as("sh")),
        "source", col("sh"), k = 128).barrierFirewall()
      TextOps.minhashRegisterOverlap(regs, "source")
        .orderBy("source_a", "source_b")
    }),

    // frequency-threshold boilerplate removal (the Dolma/CCNet rule
    // dedupParagraphs is not): EVERY copy of a segment in > 30% of its
    // source's docs dies. Planted per doc: a per-source nav bar (100%
    // -> removed), a ~17% pool paragraph (kept), a ~50% promo banner
    // (removed), a unique line (kept). g = doc index WITHIN its source
    // (ids are source-interleaved, so plain doc_id % k is constant
    // per source and useless for in-source frequency control)
    "t107_boilerplate_removal" -> ((s, dir) => {
      val id = col("doc_id")
      val g = ((id - id % 20) / 20).cast("long")
      val pool = array(ParagraphPool.map(lit): _*)
      val ptext = concat_ws("\n\n",
        concat(lit("nav menu for "), col("source")),
        element_at(pool, (g % 6 + 1).cast("int")),
        concat(lit("promo banner "), (g % 2).cast("string")),
        concat(lit("doc "), id.cast("string"), lit(" unique notes")))
      val docs = t(s, dir, "documents")
        .select(id, col("source"), ptext.as("ptext"))
      TextOps.removeBoilerplateSegments(docs, "doc_id", "source", "ptext",
          maxDocFrac = 0.3, minDocFreq = 2)
        .orderBy("doc_id")
    }),

    // water-filling mixture solver: 15k-token budget split by source
    // weight (1..4 from the source suffix); supply-capped sources
    // saturate, their slack re-flows to the rest — the rates column
    // is mixtureSample's input
    "t108_mixture_allocate" -> ((s, dir) => {
      TextOps.mixtureAllocate(t(s, dir, "documents"), "source", "text",
          substring(col("source"), 4, 10).cast("int") % 4 + 1,
          budgetTokens = 15000L)
        .orderBy("source")
    }),

    // quality-aware near-dup survivor selection: the t14 LSH candidate
    // chain, but each cluster keeps its member with the MOST tokens
    // (ties: min id) instead of the min id — the "keep the complete
    // variant, not the first-crawled one" production convention
    "t100_near_dedup_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
      // barrier: the candidate kernel reads bux twice (measured on
      // t14's identical chain: taskTime 47 -> 26 s)
      val bux = TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2)
        .barrierFirewall()
      val pairs = TextOps.lshCandidatePairs(bux, "doc_id")
      TextOps.dropNearDuplicatesBy(docs, "doc_id", pairs,
          size(TextOps.tokens(col("text"))).cast("long"))
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // near-exact dedup under the aggressive normalization key
    // (casefold + non-alnum collapse + trim): planted variant groups —
    // each group-of-3 leader's text prefix re-emitted verbatim,
    // uppercased+'!!', and space/punct-padded — must collapse to one
    // key with the leader as canonical
    "t101_normalized_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val leaders = docs.select(col("doc_id").as("gid"),
        substring(col("text"), 1, 80).as("base"))
      val variants = docs.select(col("doc_id"),
          (col("doc_id") - col("doc_id") % 3).as("gid"))
        .join(leaders, "gid")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, col("base"))
            .when(col("doc_id") % 3 === 1, concat(upper(col("base")), lit("!!")))
            .otherwise(concat(lit("  "), col("base"), lit(" ..")))
            .as("vtext"))
      TextOps.exactDupGroupsNormalized(variants, "doc_id", "vtext")
        .orderBy("content_key")
    }),

    // Efraimidis–Spirakis weighted sampling without replacement:
    // exactly 20 docs per source with probability proportional to
    // token count — key u^(1/w) on the salted id hash, micro-rounded
    // before ranking so the oracle reproduces the exact selection
    "t102_weighted_sample" -> ((s, dir) => {
      TextOps.weightedSample(t(s, dir, "documents"), "doc_id", "source",
          size(TextOps.tokens(col("text"))).cast("double"), k = 20)
        .select("doc_id", "source", "weight", "key_micro", "rk")
        .orderBy("source", "rk")
    }),

    // KMV cross-source content overlap: per-source k-minimum-values
    // sketches over 3-word shingles, pairwise Jaccard estimated from
    // the k smallest hashes of each pair's sketch union — the
    // "mirrored dump" detector with corpus-size-independent state
    "t103_kmv_overlap" -> ((s, dir) => {
      // barrier: kmvSourceOverlap's a/b legs join each other over
      // frames derived from the sketch; unmaterialized, the plan
      // re-derived the corpus-scale sketch lineage per leg (7 parquet
      // scans in one plan). The sketch is |sources| x k rows — id-scale.
      val sk = TextOps.kmvSketch(t(s, dir, "documents"), "source", "text",
        k = 256).barrierFirewall()
      TextOps.kmvSourceOverlap(sk, "source", k = 256)
        .orderBy("source_a", "source_b")
    }),

    // KMV per-source distinct-shingle estimate: exact below k (the
    // sketch IS the set), else (k-1) * 2^60 / h_k
    "t104_kmv_distinct" -> ((s, dir) => {
      val sk = TextOps.kmvSketch(t(s, dir, "documents"), "source", "text",
        k = 256)
      TextOps.kmvDistinctEstimate(sk, "source", k = 256)
        .orderBy("source")
    }),

    "t99_html_main_content" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>T</title><script>var x = 1 < 2;</script></head><body>"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> <a href=\"/c\">Contact</a></nav>"),
        lit("<p>Story &amp; analysis: "), substring(col("text"), 1, 100),
        lit(" tail of doc "), col("doc_id").cast("string"), lit("</p>"),
        lit("<div>Read <a href=\"/m\">more on this</a> plus plenty of surrounding prose to keep density low.</div>"),
        lit("<aside><a href=\"/x\">One</a> <a href=\"/y\">Two</a> <a href=\"/z\">Three links here</a></aside>"),
        lit("<footer>(c) 2026 example</footer></body></html>"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        html.as("html"))
      graft.text.HtmlOps.extractMainText(docs, "doc_id", "html")
        .orderBy("doc_id")
    }),

    // abbreviation-aware sentence segmentation: titles/latinisms
    // ("Dr.", "Fig.", "e.g.", "No.", "etc.") protect their periods via
    // a pre-pass sentinel, so they no longer split mid-sentence — the
    // upgrade t89's known limitation pointed at; same lookahead-free
    // regex discipline, mirrored byte-for-byte
    "t98_sentence_abbrev" -> ((s, dir) => {
      val ptext = concat(lit("Dr. Smith saw "),
        substring(col("text"), 1, 20),
        lit(". See Fig. 3 and e.g. doc "), col("doc_id").cast("string"),
        lit(". No. 5 on the list, etc. More at the end! Done."))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        ptext.as("ptext"))
      TextOps.sentenceSplit(docs, "doc_id", "ptext",
          abbreviations = TextOps.DefaultAbbreviations)
        .orderBy("doc_id", "sent_idx")
    }),

    // sentence segmentation: terminal-punctuation boundaries via the
    // shared sentinel two-step (RE2 has no lookahead), 0-based index
    // over non-blank trimmed sentences, token counts per sentence
    "t89_sentence_split" -> ((s, dir) => {
      // the corpus text is punctuation-free, so plant deterministic
      // sentence structure (same construction in the mirror):
      // multi-char terminators, double spaces, a trailing fragment
      val ptext = concat(lit("First part. "),
        substring(col("text"), 1, 30),
        lit("!! Then doc "), col("doc_id").cast("string"),
        lit("?  And more...  tail bit"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        ptext.as("ptext"))
      TextOps.sentenceSplit(docs, "doc_id", "ptext")
        .orderBy("doc_id", "sent_idx")
    }),

    // WARC build->parse round trip: a structurally valid two-record
    // WARC file per doc (warcinfo + HTTP response wrapping the html
    // body), then the real byte-offset record walk; the oracle
    // recomputes every parsed field from the construction rule
    "t88_warc_parse" -> ((s, dir) => {
      val warc = graft.sources.Warc.buildWarc(
        t(s, dir, "documents"), "doc_id", "text")
      graft.sources.Warc.parseWarcRecords(warc, "warc_id", "payload")
        .orderBy("warc_id", "rec_idx")
    }),

    // domain blocklist over the same synthetic URLs: registrable-
    // domain matching so blocking site.co.uk kills news.Site.co.uk
    // too; unparseable URLs fail closed
    "t87_domain_filter" -> ((s, dir) => {
      val withUrl = t(s, dir, "documents").select(col("doc_id"),
        syntheticUrlExpr.as("url"))
      graft.text.UrlOps.filterDomains(withUrl, "doc_id", "url",
          Seq("site.co.uk", "example.org"))
        .select("doc_id", "url_canon", "domain")
        .orderBy("doc_id")
    }),

    // per-source TOKEN-budget sampling (training mixtures are token
    // counts, not doc counts): hash-ordered prefix per source whose
    // pre-doc cumulative token count stays under the budget, behind
    // the t39-style count-derived prefilter
    "t86_token_budget" -> ((s, dir) => {
      TextOps.tokenBudgetSample(t(s, dir, "documents"), "doc_id", "text",
          "source", budgetTokens = 600)
        .orderBy("source", "doc_id")
    }),

    // trained-BPE tokenization: 12 merges trained on the corpus's OWN
    // pretoken frequency table (deterministic count-desc/pair-asc
    // argmax), then applied per document by the rank-greedy kernel.
    // The DuckDB oracle re-runs the SAME training loop — 12 unrolled
    // pair-count/argmax/merge iterations over the wrapped-symbol
    // strings — and applies each merge once in rank order, which on a
    // trained table is exactly the greedy result, so a drift in either
    // training determinism or merge semantics hash-fails, not just the
    // output shape.
    "t61_bpe_tokenize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeTrainMerges(docs, "text", numMerges = 12)
      TextOps.bpeTokenize(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // trained BPE at a deeper merge table (one corpus pass, then the
    // capped <= maxWords word table trains in memory at ~2 ms/merge).
    // The mirror re-runs all 64 merge iterations in DuckDB.
    "t97_bpe_merges64" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeTrainMerges(docs, "text", numMerges = 64)
      TextOps.bpeTokenize(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // rank-greedy BPE application: the same 64-merge table and the
    // SAME DuckDB mirror as t97, and since bpeTokenize has one kernel
    // the two queries now run the same engine path. Kept as its own
    // registry entry so the query count (and the oracle's per-query
    // history) stays where it was.
    "t109_bpe_greedy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeTrainMerges(docs, "text", numMerges = 64)
      TextOps.bpeTokenize(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // composed multimodal pipeline: real PNG/JPEG payloads built from
    // the caption corpus -> exact image dedup (md5 over the REAL
    // encoder bytes; the oracle predicts the identity classes from the
    // construction rule alone, so a wrong byte stream or a drifted
    // encoder hash-fails the survivor set) -> real codec decode of the
    // survivors -> full caption curation core -> one row per doc that
    // clears both modalities. The aHash NEAR-dup composition twin is
    // pinned at spec level (PipelineSpec) where planted perturbed
    // copies make expected clusters exact.
    "t110_multimodal_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticImages(
        graft.util.FanOut(docs), "doc_id", "text")
      graft.pipeline.Pipeline.imageCaptionCurate(media, docs,
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // aHash near-dup clustering with an EXACT external oracle: 8x8
    // black/white pattern BMPs make the decoded average-hash provably
    // equal the planted md5-derived pattern (both colors present =>
    // the mean separates them regardless of float coefficients), so
    // the banded candidate join + Hamming verify + CC resolve are all
    // SQL-recomputable while Spark still walks the real codec path.
    // Closes the "decode step not SQL-mirrorable" gap that kept the
    // image near-dup surface spec-only since r9.
    // per-source curation survival report: how much of each source the
    // full curation core keeps — the observability row a data team
    // reads per ingest batch (a source suddenly surviving at 10% means
    // its crawler broke or its content went templated)
    "t121_curation_rates" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = TextOps.curateCorpus(docs, "doc_id", "text")
        .select(col("doc_id"), lit(1L).as("__kept"))
      docs.select("doc_id", "source")
        .join(kept, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__kept"), lit(0L))).as("n_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6)
            .as("keep_rate"))
        .orderBy("source")
    }),

    // LSH candidate-score histogram: the threshold-calibration signal
    // for the near-dup verify stage — 0.05-wide Jaccard bins over the
    // banded candidates show where the true-dup mass sits relative to
    // the minJaccard cut (a bimodal histogram = safe threshold; mass on
    // the cut = the bands are recalling borderline junk)
    "t119_jaccard_histogram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // A/B'd r18 and kept AS IS: sharing one distinct-shingle frame
      // between the minhash and verify legs (curateCorpus's shape) was
      // MEASURED SLOWER here — the full-corpus distinct shuffle + two
      // token-scale materializations + fanOut reshuffle cost more than
      // the one tokenize+shingle pass they save (taskTime 107 -> 127 s,
      // wall 6.7 -> 8.1 s). The two-pass shape (multiset minhash pass,
      // candidate-bounded verify pass inside jaccardPairs) stands.
      val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
      val bux = TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2).barrierFirewall()
      val pairs = TextOps.lshCandidatePairs(bux, "doc_id")
      TextOps.jaccardPairs(docs, "doc_id", "text", pairs)
        .select(least(floor(round(col("jaccard"), 6) * 20), lit(19L))
          .cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
        .select(col("bin"), round(col("bin") / 20.0, 2).as("bin_lo"),
          col("n_pairs"))
        .orderBy("bin")
    }),

    // IVF recall report: per query vector, |IVF top-5 ∩ exact top-5| —
    // the accuracy contract of the ANN shortcut as a standing
    // oracle-checked query instead of a one-off tool run
    "t120_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4)
      val qs = emb.filter(col("vec_id") >= 4 && col("vec_id") < 7)
      val indexed = graft.sim.Similarity.ivfAssign(emb, centroids,
        "vec_id", "embedding")
      val ivf5 = graft.sim.Similarity.ivfSearch(indexed, centroids, qs,
          "vec_id", "embedding", k = 5, nProbe = 2)
        .select("query_id", "cand_id")
      val ex5 = graft.sim.Similarity.cosineTopK(emb, qs,
          "vec_id", "embedding", k = 5)
        .select("query_id", "cand_id")
      val hits = ivf5.join(ex5, Seq("query_id", "cand_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      ex5.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0, 6)
            .as("recall_at_5"))
        .orderBy("query_id")
    }),

    // C4-style word-list gate: docs whose listed-token fraction
    // exceeds 8% drop; survivors carry the audit columns. The list
    // reuses corpus-frequent words so the gate genuinely bites.
    "t117_wordlist_filter" -> ((s, dir) => {
      TextOps.wordlistFilter(t(s, dir, "documents"), "doc_id", "text",
          words = Seq("slow", "stream", "spill"), maxFrac = 0.08)
        .select("doc_id", "n_listed", "listed_frac")
        .orderBy("doc_id")
    }),

    // encoding-hygiene score over planted mojibake: every 4th doc gets
    // a U+FFFD, every 6th a double-encoded marker, every 9th a bare
    // control char — the crawl-extraction QA signal
    "t118_encoding_quality" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" bad�char")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit(" cafÃ©")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit(" x\u0007y")).otherwise(lit("")))
          .as("ptext"))
      TextOps.encodingQuality(planted, "doc_id", "ptext")
        .orderBy("doc_id")
    }),

    // benchmark-side contamination report: which eval items leak into
    // the corpus, and how broadly — bench = every 17th doc (t94's
    // convention), corpus = the rest, 13-gram grain
    "t115_bench_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.benchContaminationReport(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text")
        .orderBy("bench_id")
    }),

    // packing-efficiency report per source: bins used by the
    // contiguous-fill packer vs the LP lower bound ceil(tokens/budget)
    // — the fragmentation signal that says when a smarter packer is
    // worth its complexity
    "t116_pack_efficiency" -> ((s, dir) => {
      val packed = TextOps.packSequences(t(s, dir, "documents"),
        "doc_id", "text", "source", budget = 512)
      packed.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tokens"),
          (max("bin") + 1L).as("bins_used"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("bins_used"),
          ceil(col("total_tokens").cast("double") / 512.0).cast("long")
            .as("lower_bound"))
        .withColumn("efficiency",
          round(col("lower_bound").cast("double") / col("bins_used"), 6))
        .orderBy("source")
    }),

    // ATOMIC best-fit-decreasing packing: no-split capacity-128 bins,
    // shard-local BFD (fullest-fitting-bin, ties -> lowest id) — the
    // packer that acts on t116's fragmentation signal
    "t131_pack_bestfit" -> ((s, dir) => {
      TextOps.packSequencesAtomic(t(s, dir, "documents"), "doc_id",
          "text", "source", budget = 128, nShards = 4, strategy = "bfd")
        .orderBy("doc_id")
    }),

    // atomic-packing efficiency per source: the arrival-order next-fit
    // baseline vs BFD vs the LP lower bound — the gap t116 measures,
    // closed (bins are summed over the md5 sub-shards, the unit that
    // actually packs)
    "t132_pack_efficiency_bfd" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nf = TextOps.packSequencesAtomic(docs, "doc_id", "text",
          "source", budget = 128, nShards = 4, strategy = "nextfit")
        .groupBy("source", "shard").agg((max("bin") + 1L).as("b"))
        .groupBy("source").agg(sum("b").as("nextfit_bins"))
      val bf = TextOps.packSequencesAtomic(docs, "doc_id", "text",
          "source", budget = 128, nShards = 4, strategy = "bfd")
        .groupBy("source", "shard")
        .agg((max("bin") + 1L).as("b"), sum("n_tok").as("tk"))
        .groupBy("source")
        .agg(sum("b").as("bfd_bins"), sum("tk").as("total_tokens"))
      bf.join(nf, "source")
        .select(col("source"), col("total_tokens"),
          ceil(col("total_tokens").cast("double") / 128.0).cast("long")
            .as("lower_bound"),
          col("nextfit_bins"), col("bfd_bins"))
        .withColumn("efficiency_nextfit",
          round(col("lower_bound").cast("double") / col("nextfit_bins"), 6))
        .withColumn("efficiency_bfd",
          round(col("lower_bound").cast("double") / col("bfd_bins"), 6))
        .orderBy("source")
    }),

    // tokenizer fertility per source: trained-BPE tokens per
    // alphanumeric word — the cost signal that decides how a source is
    // budgeted (high-fertility sources eat the token budget faster
    // than their word counts suggest). Composes the trainer with the
    // rank-greedy kernel and a per-source rollup.
    "t113_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.bpeTrainMerges(docs, "text", numMerges = 12)
      val tok = TextOps.bpeTokenize(docs, "doc_id", "text", merges)
      val words = docs.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_words"))
      tok.join(words, "doc_id")
        .groupBy("source")
        .agg(sum("n_tokens").as("bpe_tokens"),
          sum("n_words").as("words"),
          round(sum("n_tokens").cast("double") / sum("n_words"), 6)
            .as("fertility"))
        .orderBy("source")
    }),

    // per-source vocabulary statistics: distinct tokens, hapax count,
    // type-token ratio and top-10 token mass — the exact-integer "data
    // card" vocabulary signals (Zipf-tail health without float
    // regression): a scraped silo shows low TTR and high top-10 mass
    "t114_vocab_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = graft.util.FanOut(docs).select(col("source"),
        explode(TextOps.tokens(col("text"))).as("t"))
      // barrier: the stats aggregate and the rank window both read the
      // vocabulary-sized counts — one corpus scan, not two
      val counts = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
        .barrierFirewall()
      val ranked = counts.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(desc("c"), col("t"))))
      counts.groupBy("source")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .join(ranked.filter(col("rk") <= 10).groupBy("source")
          .agg(sum("c").as("top10_mass")), "source")
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          col("n_hapax"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 6)
            .as("ttr"),
          round(col("top10_mass").cast("double") / col("n_tokens"), 6)
            .as("top10_frac"))
        .orderBy("source")
    }),

    // n-gram novelty: per-doc fraction of distinct 3-word shingles
    // whose corpus-wide first occurrence (min doc_id) is this doc —
    // the dedup-aware data-selection signal (syndicated/boilerplate
    // content scores ~0, originals ~1)
    "t112_ngram_novelty" -> ((s, dir) => {
      TextOps.ngramNovelty(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "t111_image_ahash_dedup" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticPatternBmps(
        graft.util.FanOut(t(s, dir, "documents")), "doc_id")
      val pairs = graft.multimodal.Media.nearDups(media, "image", maxHamming = 3)
        .select(col("a_id"), col("b_id"))
      TextOps.nearDupClusters(pairs)
        .select(col("id").as("media_id"), col("cluster"))
        .orderBy("media_id")
    }),

    // audio near-dup: planted-envelope WAVs (square-wave windows whose
    // RMS is the amplitude exactly) through REAL javax.sound PCM
    // decode -> 16x4-bit quantized energy envelope -> banded Hamming
    // -> CC; the fingerprint provably equals the md5-derived pattern,
    // so the whole chain is SQL-recomputed — t111's audio twin
    "t125_audio_envelope_dedup" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticEnvelopeWavs(
        graft.util.FanOut(t(s, dir, "documents")), "doc_id")
      val pairs = graft.multimodal.Media.nearDups(media, "audio", maxHamming = 3)
        .select(col("a_id"), col("b_id"))
      TextOps.nearDupClusters(pairs)
        .select(col("id").as("media_id"), col("cluster"))
        .orderBy("media_id")
    }),

    // video near-dup: planted-envelope MP4s (constant-luminance
    // frames) through the REAL sample-table walk + RGB24 frame decode
    // -> 16x4-bit luminance envelope -> banded Hamming -> CC — t111's
    // video twin
    "t126_video_envelope_dedup" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticPatternMp4s(
        graft.util.FanOut(t(s, dir, "documents")), "doc_id")
      val pairs = graft.multimodal.Media.nearDups(media, "video", maxHamming = 3)
        .select(col("a_id"), col("b_id"))
      TextOps.nearDupClusters(pairs)
        .select(col("id").as("media_id"), col("cluster"))
        .orderBy("media_id")
    }),

    // multimodal pipeline funnel: per-stage survival counts through
    // captionCurateNearDup's image chain (media -> decodable ->
    // near-dup survivors -> curated captions) — t121's multimodal
    // sibling, the row that localizes WHERE a batch collapsed
    "t128_multimodal_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticPatternBmps(
        graft.util.FanOut(docs), "doc_id")
      graft.pipeline.Pipeline.modalFunnel(media, docs,
        "doc_id", "text", "image")
    }),

    // t128's audio sibling: per-stage survival counts through
    // captionCurateNearDup's audio chain (real PCM decode, planted
    // envelope classes) via the same modal funnel
    "t134_audio_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticEnvelopeWavs(
        graft.util.FanOut(docs), "doc_id")
      graft.pipeline.Pipeline.modalFunnel(media, docs,
        "doc_id", "text", "audio")
    }),

    // t128's video sibling: same funnel over the luminance-envelope
    // near-dup chain (real ISO-BMFF walk + frame decode)
    "t135_video_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticPatternMp4s(
        graft.util.FanOut(docs), "doc_id")
      graft.pipeline.Pipeline.modalFunnel(media, docs,
        "doc_id", "text", "video")
    }),

    // CROSS-MODAL dup clustering: image near-dup edges (planted aHash
    // patterns, real decode) unioned with text near-dup edges (banded
    // MinHash over the real document texts) into one CC pass — a pair
    // is a dup if EITHER modality matches; clusters merge relations
    // neither modality sees alone
    "t127_cross_modal_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticPatternBmps(
        graft.util.FanOut(docs), "doc_id")
      graft.pipeline.Pipeline.crossModalDupClusters(media, docs,
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // CROSS-MODAL dup clustering over ALL FOUR modalities: image aHash
    // + audio energy-envelope + video luminance-envelope + text
    // MinHash edges in one CC pass — each media family through its
    // real codec path (ImageIO decode, PCM window RMS, ISO-BMFF frame
    // walk) over its own planted class rule, so every edge family is
    // externally recomputable
    "t133_cross_modal_all" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.multimodal.Media
      val fan = graft.util.FanOut(docs)
      graft.pipeline.Pipeline.crossModalDupClustersAll(
          m.syntheticPatternBmps(fan, "doc_id"),
          m.syntheticEnvelopeWavs(fan, "doc_id"),
          m.syntheticPatternMp4s(fan, "doc_id"),
          docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SEMANTIC decontamination: corpus embeddings vs a benchmark slice
    // (vec_id < 50) — a corpus vector whose max 4-dp cosine to any
    // bench item reaches 0.35 is flagged with its nearest bench id;
    // the similarity-tier contamination report t28/t36's n-gram
    // machinery structurally cannot produce
    "t136_semantic_decontam" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.filter(col("vec_id") < 50)
      val corpus = emb.filter(col("vec_id") >= 50)
      graft.sim.Similarity.semanticDecontaminateReport(
          corpus, bench, "vec_id", "embedding", minCosine = 0.35)
        .orderBy("vec_id")
    }),

    // hard-negative mining: top-5 similar-but-not-duplicate corpus
    // items per anchor inside the cosine band [0.2, 0.45) — the
    // contrastive-retrieval training-pair prep stage
    "t137_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val anchors = emb.filter(col("vec_id") < 10)
      graft.sim.Similarity.hardNegatives(emb, anchors, "vec_id",
          "embedding", k = 5, minCosine = 0.2, maxCosine = 0.45)
        .orderBy("query_id", "rank")
    }),

    // prototype pruning (SSL-prototypes / D4): t13's trained k-means
    // cells, drop the 30% most centroid-similar members of each cell,
    // keep the hard/diverse remainder with its prototypicality rank
    "t138_prototype_prune" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.sim.Similarity.prototypePrune(emb, "vec_id", "embedding",
          initIds = Seq(0L, 1L, 2L, 3L), iterations = 2, dropFrac = 0.3)
        .orderBy("cell", "rank")
    }),

    // UNIGRAM-LM tokenization (the SentencePiece family, next to the
    // BPE track): frequency-seeded piece scores in exact micro-units,
    // then per-doc Viterbi segmentation through the codegen'd kernel;
    // the mirror recomputes training AND the DP (unrolled per word
    // position), pinning pieces, piece count and total log-likelihood
    "t139_unigram_tokenize" -> ((s, dir) => {
      TextOps.unigramTokenize(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 64, maxPieceLen = 8)
        .orderBy("doc_id")
    }),

    // one Viterbi-EM refinement round on the unigram seed: decode
    // counts re-scored (pieces the seed decode never uses drop out),
    // then the corpus re-decoded under the re-estimated table — the
    // mirror recomputes the seed DP, the count/re-score M step, AND
    // the second DP, pinning the refined segmentation end-to-end
    "t140_unigram_em" -> ((s, dir) => {
      TextOps.unigramTokenizeEm(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 64, maxPieceLen = 8, emRounds = 1)
        .orderBy("doc_id")
    }),

    // t113's unigram sibling: per-source pieces-per-word under the
    // trained unigram model — the budgeting cost signal for the second
    // tokenizer family (a source whose unigram fertility diverges from
    // its BPE fertility is segmenting pathologically under one of them)
    "t141_unigram_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = TextOps.unigramTokenize(docs, "doc_id", "text",
        vocabSize = 64, maxPieceLen = 8)
      val words = docs.select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_words"))
      tok.join(words, "doc_id")
        .groupBy("source")
        .agg(sum("n_pieces").as("uni_pieces"),
          sum("n_words").as("words"),
          round(sum("n_pieces").cast("double") / sum("n_words"), 6)
            .as("fertility"))
        .orderBy("source")
    }),

    // JSONL shard manifest (t147): the sink's oracle-checkable half —
    // t35's md5 shard chain, the writer's own to_json line render,
    // per-line byte size; what a downstream hash manifest verifies
    "t147_jsonl_manifest" -> ((s, dir) => {
      graft.sources.Jsonl.manifest(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", nShards = 8, gzip = false)
        .orderBy("doc_id")
    }),

    // Composed event-analytics pipeline (t149): sessionize (12h gap)
    // -> WINDOWED funnel (6h deadline) -> exact per-stage session-
    // duration percentiles, all over one events corpus — the t94-style
    // showcase for the event tier: two hybrid keyed scans + the rank
    // percentile, joined on the user key, one tiny output row per
    // funnel depth
    "t149_event_pipeline" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("tus",
        unix_micros(graft.streaming.EventStreams.eventTime(ev0)))
      val sessions = graft.streaming.EventStreams
        .sessionizeBatch(ev0, gapMs = 12L * 3600L * 1000L)
      val funnel = graft.ops.Funnel.matchStepsWindowed(ev, "user_id",
          "tus",
          Seq(col("event_type") === "click",
            col("event_type") === "purchase",
            col("event_type") === "purchase" && col("value") > 50),
          windowUs = 6L * 3600L * 1000000L)
        .select(col("user_id"), col("stages_reached"))
      val sf = sessions.join(funnel, Seq("user_id"))
        .withColumn("dur_us", unix_micros(col("session_end")) -
          unix_micros(col("session_start")))
      val pct = graft.ops.Quantiles.exactPercentiles(sf, "stages_reached",
        "dur_us", Seq(50, 90), tieBreak = Seq("user_id", "session_id"))
      val nu = funnel.groupBy("stages_reached")
        .agg(count(lit(1)).as("n_users"))
      pct.join(nu, Seq("stages_reached"))
        .select(col("stages_reached"), col("n_users"),
          col("n").as("n_sessions"), col("p_50").as("p50_dur_us"),
          col("p_90").as("p90_dur_us"))
        .orderBy("stages_reached")
    }),

    // TFRecord shard manifest (t148): shard/seq/file plus the FRAMED
    // record size (16-byte length+crc framing + payload) — per-shard
    // sums equal committed file lengths exactly (TfRecordSpec)
    "t148_tfrecord_manifest" -> ((s, dir) => {
      graft.sources.TfRecord.manifest(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", nShards = 4)
        .orderBy("doc_id")
    }),

    // PageRank with dangling-mass redistribution (t146): t142's
    // recurrence on a graph where multiples of 3 have NO out-links
    // (link-receiving dead-end pages — every crawl has them), the
    // dropped mass split floor(M/|V|) per node and damped with the
    // pinned floor order; 4 exact integer power steps
    "t146_pagerank_dangling" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val linkers = docs.filter(col("doc_id") % 3 =!= 0)
      val edges = linkers.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .unionByName(linkers.select(col("doc_id").as("src"),
          (col("doc_id") % 10).as("dst")))
      graft.ops.LinkRank.pageRank(edges, "src", "dst", iterations = 4,
          redistributeDangling = true)
        .orderBy("node")
    }),

    // canonical tf.Example payload bytes (t145): the TFRecord sink's
    // protobuf serializer pinned BYTE-exactly — doc_id (Int64List),
    // text (BytesList, UTF-8), token lengths (packed Int64List) per
    // document, emitted sorted-key canonical and hex-dumped; the
    // oracle rebuilds the identical wire bytes from the protobuf spec
    // in pure SQL (varint CASE cascade, bottom-up length framing)
    "t145_tfexample_bytes" -> ((s, dir) => {
      val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
        x => length(x) > 0)
      t(s, dir, "documents").select(col("doc_id"),
        lower(hex(graft.sources.TfExample.encode(Seq(
          "doc_id" -> col("doc_id"),
          "text" -> col("text"),
          "tok_lens" -> transform(toks, x => length(x).cast("long"))))))
          .as("example_hex"))
        .orderBy("doc_id")
    }),

    // WebDataset export manifest over the planted-pattern BMPs +
    // caption texts: md5 shard assignment, per-shard sequence,
    // zero-padded member names and exact member byte sizes — the
    // oracle-checkable half of the sharded-tar sink (the tar EMISSION
    // itself is spec-verified by a byte-exact write/read round trip)
    "t144_webdataset_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticPatternBmps(
          graft.util.FanOut(docs), "doc_id")
        .select(col("media_id").as("doc_id"), col("payload"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      graft.multimodal.WebDataset.manifest(media, "doc_id", "payload",
          "text", nShards = 8)
        .orderBy("doc_id")
    }),

    // DCT perceptual hash (pHash) over the planted-pattern BMPs: the
    // REAL ImageIO decode + 8x8 resample + exact fixed-point DCT +
    // AC-median threshold, while the oracle recomputes the identical
    // integer pipeline from the md5 construction rule — the hash VALUE
    // itself is pinned, not just downstream pair structure
    "t143_image_phash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticPatternBmps(
        graft.util.FanOut(docs), "doc_id")
      graft.multimodal.Media.imagePHash(media)
        .select(col("media_id").as("doc_id"), col("phash"))
        .orderBy("doc_id")
    }),

    // link-graph PageRank for crawl quality weighting: a deterministic
    // two-family synthetic link graph over the documents (a permuting
    // long-range link + a hub link onto pages 0..9, so hubs accumulate
    // rank), 6 exact fixed-point power iterations — the per-page
    // centrality signal CC-style pipelines weight sampling by
    "t142_link_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 3) % n).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 10).as("dst")))
      graft.ops.LinkRank.pageRank(edges, "src", "dst", iterations = 6)
        .orderBy("node")
    }),

    // t110's composition with the NEAR-dup image stage oracled
    // end-to-end: planted-pattern BMPs make the decoded aHash provably
    // equal the md5-derived pattern, so the band join + Hamming verify
    // + CC survivor selection AND the downstream caption curation are
    // all SQL-recomputed while Spark walks real ImageIO decode — the
    // standing CORRECTNESS row for the pipeline's near-dup image stage
    // (previously pinned only at spec level)
    "t122_multimodal_near_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticPatternBmps(
        graft.util.FanOut(docs), "doc_id")
      graft.pipeline.Pipeline.captionCurateNearDup(media, docs,
          "doc_id", "text", "image")
        .orderBy("doc_id")
    }),

    // t122's audio edition: planted-envelope WAVs drive the near-dup
    // stage through real PCM decode, survivors' captions run the
    // curation core — the envelope in the output is the planted
    // pattern the codec path provably reproduces
    "t129_audio_near_dup_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticEnvelopeWavs(
        graft.util.FanOut(docs), "doc_id")
      graft.pipeline.Pipeline.captionCurateNearDup(media, docs,
          "doc_id", "text", "audio")
        .orderBy("doc_id")
    }),

    // t122's video edition: planted-envelope MP4s through the real
    // sample-table walk + frame decode
    "t130_video_near_dup_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticPatternMp4s(
        graft.util.FanOut(docs), "doc_id")
      graft.pipeline.Pipeline.captionCurateNearDup(media, docs,
          "doc_id", "text", "video")
        .orderBy("doc_id")
    }),

    // composed AUDIO-caption pipeline: byte-identity dedup of the WAV
    // payloads (mirrorable: the payload is bijective with the sample
    // count) -> REAL javax.sound PCM decode into 1000-sample windows
    // -> duration + loudness gate -> full caption curation core. The
    // audio twin of t110 — gives the PCM decode surface (t55)
    // composition-level evidence with a standing external oracle.
    "t123_audio_caption_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticMedia(
        graft.util.FanOut(docs), "doc_id", "text")
      graft.pipeline.Pipeline.audioCaptionCurate(media, docs,
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // composed VIDEO-caption pipeline: byte-identity dedup of the MP4
    // payloads (bijective with the geometry rule) -> REAL sample-table
    // walk + frame decode -> frame-count + luminance gate -> caption
    // curation core. The video twin of t110/t123 — the container walk
    // surfaces (t43/t60/t64) get composition-level evidence.
    "t124_video_caption_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val media = graft.multimodal.Media.syntheticMp4Videos(
        graft.util.FanOut(docs), "doc_id", "text")
      graft.pipeline.Pipeline.videoCaptionCurate(media, docs,
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // t43's ISO-BMFF twin: structurally valid MP4s with full sample
    // tables (stsd/stts/stsc/stsz/stco) and raw RGB24 samples, frame
    // pixels genuinely resolved back through the sample-table walk —
    // same construction rule, so the same oracle recompute applies
    "t60_mp4_frames" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticMp4Videos(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Media.videoFrames(media)
        .select(col("media_id"), col("frame_idx"), col("f_width"),
          col("f_height"), round(col("mean_gray"), 6).as("mean_gray"))
        .orderBy("media_id", "frame_idx")
    }),

    // t60's EBML twin: structurally valid Matroska containers
    // (EBML header + Segment(Info, Tracks, Cluster(SimpleBlock...)))
    // with V_UNCOMPRESSED RGB24 blocks, frame pixels genuinely
    // resolved back through the EBML walk — same construction rule,
    // so the same oracle recompute applies
    "t64_mkv_frames" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticMkvVideos(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Media.videoFrames(media)
        .select(col("media_id"), col("frame_idx"), col("f_width"),
          col("f_height"), round(col("mean_gray"), 6).as("mean_gray"))
        .orderBy("media_id", "frame_idx")
    }),

    // RefinedWeb-style paragraph dedup. The corpus text carries no
    // newlines, so the paragraph structure is synthesized (t62's
    // synthetic-url discipline): a 6-paragraph shared pool + one
    // per-doc unique paragraph, giving both cross-doc and within-doc
    // duplicates; first (doc, pos) occurrence wins corpus-wide
    "t65_paragraph_dedup" -> ((s, dir) => {
      val id = col("doc_id")
      val pool = array(ParagraphPool.map(lit): _*)
      val ptext = concat_ws("\n\n",
        element_at(pool, (id % 6 + 1).cast("int")),
        element_at(pool, ((id * 3 + 1) % 6 + 1).cast("int")),
        concat(lit("doc "), id.cast("string"), lit(" unique notes")),
        element_at(pool, ((id * 7 + 2) % 6 + 1).cast("int")))
      val docs = t(s, dir, "documents").select(id, ptext.as("ptext"))
      TextOps.dedupParagraphs(docs, "doc_id", "ptext")
        .orderBy("doc_id")
    }),

    // deterministic HyperLogLog distinct-token estimate per source:
    // md5-derived registers, exact integer harmonic sum, linear-
    // counting small-range branch — alongside the exact count it
    // replaces at scale
    "t73_hll_distinct" -> ((s, dir) => {
      TextOps.hllDistinct(t(s, dir, "documents"), "source",
          explode(TextOps.tokens(col("text"))), p = 8)
        .orderBy("source")
    }),

    // Trailing-7-day distinct users per day from MERGED daily HLL
    // registers — the 100 TB pattern the sketch tier exists for: one
    // register table per day (tiny, mergeable), every trailing window
    // answered by per-bucket max over the 7 daily sketches instead of
    // re-scanning a week of raw events. Each day's registers spread to
    // the <= 7 window-end days they serve (bounded explode), the merge
    // is one map-side-combinable max aggregate, and the estimate is
    // the exact t73 register arithmetic — so the mirror recomputes it
    // bit-for-bit. Exact trailing distincts ride along as the
    // validation column (at scale a caller keeps only the sketch).
    "t152_hll_trailing_window" -> ((s, dir) => {
      val D = 86400000000L
      val e0 = t(s, dir, "events")
      val tus = unix_micros(graft.streaming.EventStreams.eventTime(e0))
      val days = e0.select((tus - pmod(tus, lit(D))).as("day"),
          col("user_id"))
        .filter(col("day").isNotNull && col("user_id").isNotNull)
      val regs = TextOps.hllRegisters(days, "day",
        col("user_id").cast("string"), p = 8)
      val merged = regs.withColumn("wday",
          explode(sequence(col("day"), col("day") + lit(6L * D), lit(D))))
        .groupBy(col("wday").as("day"), col("bucket"))
        .agg(max("rho").as("rho"))
      val existing = days.select("day").distinct()
      val est = TextOps.hllEstimate(merged, "day", p = 8)
        .join(existing, "day")
      val exact = days.distinct()
        .withColumn("wday", explode(sequence(col("day"),
          col("day") + lit(6L * D), lit(D))))
        .select(col("wday").as("day"), col("user_id")).distinct()
        .groupBy("day").agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, Seq("day"))
        .select(col("day"), col("hll_est"), col("exact_distinct"),
          round(abs(col("hll_est") - col("exact_distinct")) /
            col("exact_distinct"), 6).as("rel_err"))
        .orderBy("day")
    }),

    // exact embedding second moments: the d x d mean/covariance table
    // behind allButTop — pure integer arithmetic, the oracled
    // foundation of the (driver-side, spec-verified) eigen step
    "t82_emb_moments" -> ((s, dir) => {
      graft.sim.Similarity.embMoments(t(s, dir, "embeddings"),
          "vec_id", "embedding")
        .orderBy("i", "j")
    }),

    // snapshot diff: doc_id<400 is the old snapshot, >=100 the new,
    // every 17th doc mutated — the four statuses all exercised
    "t80_snapshot_diff" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val oldSnap = base.filter(col("doc_id") < 400)
      val newSnap = base.filter(col("doc_id") >= 100).select(col("doc_id"),
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      TextOps.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // per-source token-distribution drift: smoothed KL(source||corpus)
    // over 64 hashed buckets, micro-nat integer sums
    "t81_token_drift" -> ((s, dir) => {
      TextOps.tokenDrift(t(s, dir, "documents"), "doc_id", "text",
          "source")
        .orderBy("source")
    }),

    // script detection over a planted multilingual corpus: pure-
    // Cyrillic docs, CJK-tailed docs, and a Greek/Arabic tie that
    // exercises the dominance tie-break
    "t79_script_detect" -> ((s, dir) => {
      val ptext =
        when(col("doc_id") % 7 === 1,
          expr("repeat('ж', cast(doc_id % 11 + 2 as int))"))
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit(" "),
            expr("repeat('中', cast(doc_id % 5 + 40 as int))")))
        .when(col("doc_id") % 7 === 3,
          concat(expr("repeat('λ', 5)"),
            expr("repeat('ع', cast(doc_id % 6 as int))")))
        .otherwise(col("text"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        ptext.as("ptext"))
      TextOps.scriptDetect(docs, "doc_id", "ptext")
        .orderBy("doc_id")
    }),

    // HTML -> text extraction over synthetic markup built from each
    // doc (script/style/comment bodies, block tags, the six
    // high-frequency entities, self-closing and attributed tags);
    // oracle runs the SAME stage cascade generated from HtmlOps.Stages
    "t85_html_extract" -> ((s, dir) => {
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><title>T</title>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<style>p { color: red }</style></head><body>"),
        lit("<!-- id "), id.cast("string"), lit(" --><h1>Doc "),
        id.cast("string"), lit("</h1><p class=\"lead\">"),
        substring(col("text"), 1, 40),
        lit(" &amp; more &lt;tags&gt; &quot;q&quot; it&#39;s&nbsp;here<br/></p>"),
        when(id % 3 === 0, lit("<ul><li>a</li><li>b</li></ul>"))
          .otherwise(lit("<div>block</div>")),
        lit("</body></html>"))
      val docs = t(s, dir, "documents").select(id, html.as("h"))
      graft.text.HtmlOps.extractText(docs, "doc_id", "h")
        .orderBy("doc_id")
    }),

    // true NFC/NFKC normalization (java.text.Normalizer) over planted
    // combining-mark and compatibility fixtures whose normal forms are
    // KNOWN codepoint sequences — the oracle rebuilds the expected
    // outputs literally from the same construction rule (no SQL
    // Normalizer exists), so a drift in form handling hash-fails
    "t83_unicode_normalize" -> ((s, dir) => {
      val id = col("doc_id")
      val suffix = when(id % 7 === 0, lit("éclair")) // e + combining acute
        .when(id % 7 === 1, lit("Ångstrom")) // angstrom sign -> U+00C5
        .when(id % 7 === 2, lit("ﬁle")) // fi ligature (NFKC-only fold)
        .when(id % 7 === 3, lit("ＡBC")) // fullwidth A (NFKC-only)
        .when(id % 7 === 4, lit("① step")) // circled one (NFKC-only)
        .when(id % 7 === 5, lit("x²")) // superscript two (NFKC-only)
        .otherwise(lit("plain"))
      val docs = t(s, dir, "documents").select(id,
        concat(lit("base "), id.cast("string"), lit(" "), suffix)
          .as("ptext"))
      val nfc = graft.text.NormalizeOps.unicodeNormalized(col("ptext"), "NFC")
      val nfkc = graft.text.NormalizeOps.unicodeNormalized(col("ptext"), "NFKC")
      docs.select(id, nfc.as("nfc"), nfkc.as("nfkc"),
        (nfc =!= col("ptext")).as("changed_nfc"),
        (nfkc =!= col("ptext")).as("changed_nfkc"))
        .orderBy("doc_id")
    }),

    // unicode/whitespace normalization over a crafted messy corpus
    // (curly quotes, NBSP, CRLF, bell char, blank-line runs, tab runs
    // — planted by the same construction rule as the oracle)
    "t78_normalize_text" -> ((s, dir) => {
      val ptext = concat(
        lit("  “q” "), col("doc_id").cast("string"),
        lit("‘a’ b – c\r\nde"),
        when(col("doc_id") % 3 === 0, lit("\n\n\n\n"))
          .otherwise(lit("\t \t")),
        lit("f…   g  "))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        ptext.as("ptext"))
      graft.text.NormalizeOps.normalizeText(docs, "doc_id", "ptext")
        .orderBy("doc_id")
    }),

    // log2-histogram quantiles: mergeable bounded-state (<=64 buckets
    // per source) distribution sketch queried at 4 quantile points
    "t77_hist_quantiles" -> ((s, dir) => {
      val regs = TextOps.histRegisters(t(s, dir, "documents"), "source",
        length(col("text")))
      TextOps.histQuantiles(regs, "source", Seq(0.25, 0.5, 0.75, 0.99))
        .orderBy("source", "frac")
    }),

    // count-min sketch: bounded-memory (4 x 1024 cells) token counts;
    // probes = the doc_id<10 vocabulary, est >= exact always, `over`
    // exposes the collision overcount the width bounds
    "t76_cms_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val occ = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
      val regs = TextOps.cmsRegisters(occ, col("t"))
      val probes = docs.filter(col("doc_id") < 10)
        .select(explode(TextOps.tokens(col("text"))).as("t"))
      val exact = occ.groupBy("t").agg(count(lit(1)).as("exact_n"))
      TextOps.cmsEstimate(regs, probes, "t")
        .join(exact, Seq("t"))
        .select(col("t"), col("cms_est"), col("exact_n"),
          (col("cms_est") - col("exact_n")).as("over"))
        .orderBy("t")
    }),

    // corpus data card: per-source + overall (rollup) doc/token/char
    // volume and short/empty fractions in ONE hash aggregate
    "t74_corpus_stats" -> ((s, dir) => {
      TextOps.corpusStats(t(s, dir, "documents"), "doc_id", "text",
          "source")
        .orderBy("source")
    }),

    // incremental ingest dedup: the doc_id<250 half is the curated
    // corpus (its LSH buckets are the index), the >=250 half the new
    // batch — index clashes absorbed, then within-batch CC dedup
    "t72_dedup_against_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") < 250)
      val idx = TextOps.lshBuckets(
        TextOps.minhashSignature(existing, "doc_id", "text", k = 8),
        "doc_id", 8, 2)
      TextOps.dedupAgainstCorpus(docs.filter(col("doc_id") >= 250), idx,
          "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // feature-hashed text embeddings: the model-free text -> vector
    // path (hashing trick over bigrams, signed counts, L2-normalized
    // micro-units) that feeds the similarity stack directly
    "t71_hash_embed" -> ((s, dir) => {
      TextOps.hashEmbed(t(s, dir, "documents"), "doc_id", "text",
          dim = 16, shingleWords = 2)
        .select(col("doc_id"),
          concat_ws(",", col("emb").cast("array<string>")).as("emb"),
          col("norm"))
        .orderBy("doc_id")
    }),

    // quality-proportional soft sampling: keep probability = the
    // distinct-token ratio (a real quality proxy already oracled in
    // t02), decided by the "q:"-salted uniform id-hash
    "t70_quality_sample" -> ((s, dir) => {
      val stats = TextOps.tokenStats(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          (col("n_distinct").cast("double") / col("n_tokens")).as("p"))
      TextOps.qualitySample(stats, "doc_id", "p")
        .orderBy("doc_id")
    }),

    // embedding outlier flags: squared residual distance to the
    // assigned (vec_id<4) centroid, per-cell mean/variance from exact
    // integer micro-unit sums, z=1.5 sigma tail test with no sqrt —
    // corrupt-vector hygiene before ANN indexing / SemDeDup
    "t69_embedding_outliers" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 4)
      graft.sim.Similarity.embeddingOutliers(emb, cents, "vec_id",
          "embedding", z = 1.5)
        .orderBy("vec_id")
    }),

    // CCNet perplexity bucketing over t40's reference/target split:
    // per-source quartile cutoffs of the micro-bit LM scores (exact
    // binary fractions -> bit-identical interpolation both engines),
    // head <= p25 < middle <= p75 < tail
    "t68_perplexity_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.perplexityBuckets(docs.filter(col("doc_id") < 250),
          docs.filter(col("doc_id") >= 250), "doc_id", "text", "source",
          alpha = 0.1)
        .orderBy("doc_id")
    }),

    // full IVF-PQ (IVFADC) pipeline: assign cells (vec_id<4 seeds),
    // form residuals against the assigned centroid, PQ-encode the
    // RESIDUALS through an id-prefix residual codebook, then search
    // with per-(query, probed-cell) residual lookup tables — the
    // Jégou recall fix for raw PQ, mirrored stage-for-stage in DuckDB
    "t67_ivfpq_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 4)
      val qs = emb.filter(col("vec_id") >= 4 && col("vec_id") < 7)
      val indexed = graft.sim.Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      // barrier: the encoder, the ADC search and the rerank legs join
      // frames derived from the residuals against each other;
      // unmaterialized, the plan carried 11-14 raw embedding scans,
      // re-running ivfAssign + residuals per leg
      val res = graft.sim.Similarity.ivfResiduals(indexed, cents,
        "vec_id", "embedding").barrierFirewall()
      val cb = graft.sim.Similarity.pqCodebook(
        res.filter(col("vec_id") < 16).select(col("vec_id"), col("res")),
        "vec_id", "res", m = 4, subDim = 16)
      val enc = graft.sim.Similarity.ivfPqEncode(res, cb, "vec_id",
        m = 4, subDim = 16)
      graft.sim.Similarity.ivfPqSearch(enc, cents, cb, qs, "vec_id",
          "embedding", m = 4, subDim = 16, k = 5, nProbe = 2)
        .orderBy("query_id", "cand_id")
    }),

    // two-stage retrieval: the t67 IVFADC chain produces an ADC
    // shortlist (k=8) from codes only, then ONLY those pairs join back
    // to raw vectors for exact-cosine re-ranking (top-3) — the
    // standard compressed-scan -> exact-rerank shape at scale
    "t84_rerank_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 4)
      val qs = emb.filter(col("vec_id") >= 4 && col("vec_id") < 7)
      val indexed = graft.sim.Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      // barrier: the encoder, the ADC search and the rerank legs join
      // frames derived from the residuals against each other;
      // unmaterialized, the plan carried 11-14 raw embedding scans,
      // re-running ivfAssign + residuals per leg
      val res = graft.sim.Similarity.ivfResiduals(indexed, cents,
        "vec_id", "embedding").barrierFirewall()
      val cb = graft.sim.Similarity.pqCodebook(
        res.filter(col("vec_id") < 16).select(col("vec_id"), col("res")),
        "vec_id", "res", m = 4, subDim = 16)
      val enc = graft.sim.Similarity.ivfPqEncode(res, cb, "vec_id",
        m = 4, subDim = 16)
      val shortlist = graft.sim.Similarity.ivfPqSearch(enc, cents, cb, qs,
        "vec_id", "embedding", m = 4, subDim = 16, k = 8, nProbe = 2)
      graft.sim.Similarity.rerankExact(shortlist, emb, qs,
          "vec_id", "embedding", k = 3)
        .orderBy("query_id", "cand_id")
    }),

    // rule-based PII redaction (BigScience/ROOTS-style hygiene): the
    // synthetic text plants emails/IPs and, on id-derived subsets,
    // SSNs, E.164 phones and PAN-length digit runs; the oracle re-runs
    // the SAME pattern cascade (built from PiiOps.Stages, so the two
    // engines can never drift) under RE2
    "t66_pii_redact" -> ((s, dir) => {
      val id = col("doc_id")
      val ptext = concat(
        lit("Contact user"), id.cast("string"), lit("@Example.com "),
        when(id % 3 === 0, concat(lit("or +14155550"),
            lpad((id % 100).cast("string"), 3, "0"), lit(" ")))
          .otherwise(lit("")),
        when(id % 4 === 0, concat(lit("ssn 123-45-"),
            lpad((id % 10000).cast("string"), 4, "0"), lit(" ")))
          .otherwise(lit("")),
        when(id % 5 === 0, concat(lit("card 411111111111"),
            lpad((id % 10000).cast("string"), 4, "0"), lit(" ")))
          .otherwise(lit("")),
        lit("ip 10."), (id % 256).cast("string"), lit(".0.1 done"))
      val docs = t(s, dir, "documents").select(id, ptext.as("ptext"))
      graft.text.PiiOps.redactPii(docs, "doc_id", "ptext")
        .orderBy("doc_id")
    }),

    // PQ encode through a TRAINED codebook: per-subspace k-means (16
    // codes seeded from vec_id 0..15, 2 Lloyd iterations) instead of
    // t33's raw id-prefix sample — the Jégou-style training path. Same
    // flattened output shape as t33.
    "t42_pq_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.sim.Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
        m = 4, subDim = 16, initIds = 0L until 16L, iterations = 2)
      graft.sim.Similarity.pqEncode(emb, cb, "vec_id", "embedding",
          m = 4, subDim = 16)
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))
        .orderBy("vec_id")
    }),

    // SemDeDup with the |cell|^2 guard on: cells above 50 members are
    // split by 2 deterministic refinement rounds (smallest-id sub-seed
    // assignment) before the pairwise drop — the capped path
    // `graft.tools.ScaleStep dedup` measures against the skewed worst case. Cell ids become paths
    // ("3/17"), hash-compared as strings.
    "t44_semdedup_capped" -> ((s, dir) => {
      graft.sim.Similarity.semDedup(t(s, dir, "embeddings"), "vec_id",
          "embedding", initIds = Seq(0L, 1L, 2L, 3L), iterations = 2,
          simThreshold = 0.3, maxCellSize = 50, refineRounds = 2)
        .orderBy("vec_id")
    }),

    // Lee et al.-style repeated-span removal: every 8-token run seen in
    // >= 2 distinct documents is cut from all of them. hashKeys=false
    // so the oracle groups on the literal gram text (the spec proves
    // the xxhash64 scale path agrees); at this SF 47 of 500 docs carry
    // cross-document spans
    "t45_span_dedup" -> ((s, dir) => {
      TextOps.spanDedup(t(s, dir, "documents"), "doc_id", "text",
          spanWords = 8, minDocs = 2, hashKeys = false)
        .orderBy("doc_id")
    }),

    // maximal-run span dedup: same hot 8-grams as t45, but adjacent/
    // overlapping hot starts coalesce in-row into maximal spans (the
    // real Lee et al. cut structure) — same removed-token set, plus
    // the span count and 0-based [start, end) intervals per doc
    "t95_span_dedup_maximal" -> ((s, dir) => {
      TextOps.spanDedupMaximal(t(s, dir, "documents"), "doc_id", "text",
          spanWords = 8, minDocs = 2, hashKeys = false)
        .orderBy("doc_id")
    }),

    // DSIR importance selection: src0 documents model the target
    // domain, the rest are the raw pool; hashed-bigram (256 buckets)
    // log-likelihood-ratio weights plus deterministic md5 Gumbel noise
    // pick the top 100
    "t46_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dsirSelect(docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text",
          buckets = 256, k = 100)
    }),

    // Gopher/MassiveText document-quality rules: the paper's published
    // word/line/symbol/stopword thresholds, each statistic emitted
    // alongside the combined pass verdict — a pure narrow projection,
    // the filter a curation stack runs before any dedup shuffle
    "t47_gopher_rules" -> ((s, dir) => {
      TextOps.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // GPT-3-style fractional contamination score against the doc_id<50
    // benchmark slice (t28's binary-hit twin): distinct 3-gram overlap
    // fraction per corpus document, flagged at >= 5%
    "t48_overlap_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.overlapContamination(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", shingleWords = 3, minFrac = 0.05)
        .orderBy("doc_id")
    }),

    // Okapi BM25 retrieval: the first three documents' texts as queries
    // over the whole corpus, top-10 per query (a query's own source doc
    // must rank 1 — every term saturates at its own tf)
    "t49_bm25_rank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bm25Rank(docs,
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text").as("qtext")),
          "doc_id", "text", "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    }),

    // BM25 with the stopword guard engaged: query terms in more than
    // 80% of the corpus are pruned BEFORE the postings join, so each
    // query's candidate set is its rarer terms' postings instead of
    // (potentially) the whole corpus — the df/N prune the t49 scaladoc
    // prescribes for stopword-laden queries at scale. (The synthetic
    // corpus's vocabulary is tiny — every query term sits in 74-81% of
    // docs — so 0.8 is the thr that prunes SOME terms without zeroing
    // the result; the TextOpsSpec stopword test pins the sharp-prune
    // behavior.) n_terms/score drop accordingly; the oracle applies
    // the identical df <= N*0.8 filter.
    "t50_bm25_pruned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bm25Rank(docs,
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text").as("qtext")),
          "doc_id", "text", "query_id", "qtext", k = 10, maxDfRatio = 0.8)
        .orderBy("query_id", "rank")
    }),

    // Temperature (alpha=0.5) mixture resampling over a deliberately
    // SKEWED slice (the full table is uniform across sources, which
    // would make any alpha a no-op): sources s with s%10<3 keep all 25
    // docs, the rest ~7 — smoothing then downsamples the common
    // sources (rate ~0.74) and upsamples the rare ones (rate ~1.4,
    // i.e. every doc once plus a deterministic ~40% twice), both
    // paths exercised in one oracle row.
    "t51_temperature_sample" -> ((s, dir) => {
      TextOps.temperatureSample(
          t(s, dir, "documents")
            .filter(col("doc_id") < 150 || col("doc_id") % 10 < 3),
          "doc_id", "source", alpha = 0.5)
        .select("doc_id", "source", "copy")
        .orderBy("doc_id", "copy")
    }),

    // per-document character Shannon entropy (nats) — the gibberish /
    // char-diversity quality signal; micro-unit term rounding makes
    // the cross-engine sum order-independent
    "t52_char_entropy" -> ((s, dir) => {
      TextOps.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // contamination-safe 20% test split: near-dup clusters (t14's
    // MinHash/LSH/CC chain) assigned to a side as a UNIT by the
    // cluster-id hash, so no near-duplicate pair straddles the split
    "t53_leak_safe_split" -> ((s, dir) => {
      TextOps.leakSafeSplit(t(s, dir, "documents"), "doc_id", "text",
          testFrac = 0.2)
        .orderBy("doc_id")
    }),

    // head+tail truncation to a 50-token budget (docs run 10-99 tokens
    // at this SF, so roughly half truncate and half pass byte-exact)
    "t54_truncate_tokens" -> ((s, dir) => {
      TextOps.truncateTokens(t(s, dir, "documents"), "doc_id", "text",
          maxTokens = 50, headFrac = 0.5)
        .orderBy("doc_id")
    }),

    // int8 scalar quantization of the embedding corpus: per-dim
    // min/max trained over the corpus, 0..255 codes + reconstruction
    // error (the 4x-smaller-than-float32 storage tier between raw
    // vectors and PQ); codes flattened to a string for the hash
    // compare like t33
    "t56_scalar_quant" -> ((s, dir) => {
      graft.sim.Similarity.sqEncode(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64)
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))
        .orderBy("vec_id")
    }),

    // Matryoshka truncation to the first 16 dims + renorm, micro-unit
    // components flattened for the hash compare (t33's discipline)
    "t59_mrl_truncate" -> ((s, dir) => {
      graft.sim.Similarity.truncateEmbeddings(t(s, dir, "embeddings"),
          "vec_id", "embedding", dims = 16)
        .select(col("vec_id"),
          concat_ws(",", col("emb_trunc").cast("array<string>")).as("emb_trunc"),
          col("norm"))
        .orderBy("vec_id")
    }),

    // cluster-balanced downsampling: t13's trained cells, then a
    // deterministic 20-per-cell pick (salted-hash order) — the
    // coverage-preserving pruning shape; uniform sampling would
    // over-represent dense cells
    "t58_cell_balanced_sample" -> ((s, dir) => {
      graft.sim.Similarity.cellBalancedSample(t(s, dir, "embeddings"),
          "vec_id", "embedding", initIds = Seq(0L, 1L, 2L, 3L),
          iterations = 2, perCell = 20)
        .orderBy("cell", "rank")
    }),

    // asymmetric top-5 search over the SQ8 codes: queries vec_id 4..6
    // against the whole quantized corpus (t09's query set), distances
    // computed from on-the-fly reconstructions — the scan never reads
    // the original floats
    "t57_sq_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val stats = graft.sim.Similarity.sqStats(emb, "embedding", 64)
      val codes = graft.sim.Similarity.sqEncode(emb, "vec_id", "embedding", 64)
      graft.sim.Similarity.sqSearch(codes, stats,
          emb.filter(col("vec_id") >= 4 && col("vec_id") < 7),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "cand_id")
    }),

    // REAL audio content extraction: WAV payloads decoded back through
    // javax.sound (t43's discipline, audio edition) into 1000-sample
    // windows with exact-sum RMS + peak; the oracle recomputes every
    // sample from the synthetic WAV byte rule, so a PCM-decode bug
    // hash-fails
    "t55_audio_windows" -> ((s, dir) => {
      val media = graft.multimodal.Media.syntheticMedia(
        t(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Media.audioWindows(media, windowSamples = 1000)
        .orderBy("media_id", "win_idx")
    })
  )

  /** deterministic SRP hyperplanes shared by the Spark operator and the
    * SQL oracle (literal arrays) */
  private lazy val srpPlanes: Array[Array[Double]] =
    graft.sim.Similarity.randomPlanes(8, 64)

  private val TOKS_SQL =
    """SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       x -> x <> '') AS w FROM documents"""

  /** DuckDB mirror of the FULL hashed-bigram logistic-regression path
    * (t63): lab/fe build the labeled set and the hashed features
    * ("qc:"-salted md5 mod 256), then each unrolled iteration computes
    * micro-unit margins (mg_i), 6-dp sigmoid residuals (r_i), and the
    * bias/weight updates (bs_{i+1}, w_{i+1}) with the exact
    * rounding/association order Classifier uses; the final weights
    * score every document. */
  private def qcOracleSql(iterations: Int, lr: String = "2.0"): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH lab AS (SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         FROM documents WHERE doc_id < 250),
       bgc AS MATERIALIZED (SELECT doc_id,
           CAST(('0x' || substr(md5('qc:' || sh), 1, 15))::BIGINT % 256 AS INT)
             AS bucket
         FROM ($BIGRAMS_SQL)),
       af AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM bgc GROUP BY 1, 2),
       fe AS MATERIALIZED (SELECT doc_id, bucket, cnt,
              SUM(cnt) OVER (PARTITION BY doc_id) AS n FROM af),
       lf AS MATERIALIZED (SELECT fe.* FROM fe JOIN lab USING (doc_id)),
       n0 AS MATERIALIZED (SELECT COUNT(*) AS nl FROM lab),
       w0 AS MATERIALIZED (SELECT DISTINCT bucket, 0.0 AS wt FROM lf),
       bs0 AS (SELECT 0.0 AS b)"""
    for (i <- 0 until iterations) {
      sb ++= s""",
       mg$i AS MATERIALIZED (SELECT f.doc_id,
           SUM(CAST(ROUND(w.wt * f.cnt / f.n * 1e6, 0) AS BIGINT)) AS mm
         FROM lf f JOIN w$i w USING (bucket) GROUP BY 1),
       r$i AS MATERIALIZED (SELECT lab.doc_id,
           CAST(ROUND((ROUND(1.0 / (1.0 + exp(-(bs.b + COALESCE(mg.mm, 0) / 1e6))), 6)
             - lab.y) * 1e6, 0) AS BIGINT) AS rm
         FROM lab CROSS JOIN bs$i bs LEFT JOIN mg$i mg USING (doc_id)),
       bs${i + 1} AS MATERIALIZED (SELECT ROUND(bs.b - $lr * (SUM(r.rm) / 1e6) / n.nl, 6) AS b
         FROM r$i r CROSS JOIN bs$i bs CROSS JOIN n0 n GROUP BY bs.b, n.nl),
       g$i AS MATERIALIZED (SELECT f.bucket,
           SUM(CAST(ROUND(r.rm / 1e6 * f.cnt / f.n * 1e6, 0) AS BIGINT)) AS gm
         FROM lf f JOIN r$i r USING (doc_id) GROUP BY 1),
       w${i + 1} AS MATERIALIZED (SELECT w.bucket,
           ROUND(w.wt - $lr * (COALESCE(g.gm, 0) / 1e6) / n.nl, 6) AS wt
         FROM w$i w LEFT JOIN g$i g USING (bucket) CROSS JOIN n0 n)"""
    }
    sb ++= s""",
       sm AS (SELECT f.doc_id,
           SUM(CAST(ROUND(COALESCE(w.wt, 0.0) * f.cnt / f.n * 1e6, 0) AS BIGINT))
             AS mm
         FROM fe f LEFT JOIN w$iterations w USING (bucket) GROUP BY 1),
       fin AS (SELECT d.doc_id,
           ROUND(1.0 / (1.0 + exp(-(bs.b + COALESCE(sm.mm, 0) / 1e6))), 6) AS score
         FROM documents d CROSS JOIN bs$iterations bs LEFT JOIN sm USING (doc_id))
       SELECT doc_id, score, (score >= 0.5) AS pred FROM fin ORDER BY doc_id"""
    sb.toString
  }

  /** t96 mirror: the full one-vs-rest training — qcOracleSql's
    * iteration blocks instantiated once per class (prefix c0..c{k-1})
    * over ONE shared feature build, then per-class corpus margins and
    * the score-desc/class-asc argmax. Classes interpolate statically:
    * the unrolled CTE chain cannot branch on data, so the list is the
    * testdata's known lang set — [[graft.text.Classifier]] derives its
    * classes FROM the data, and the gate hash-fails if they ever
    * disagree (the drift-surfacing direction). */
  private def multiQcOracleSql(classes: Seq[String], iterations: Int,
      lr: String = "2.0"): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH lab0 AS MATERIALIZED (SELECT doc_id, lang
         FROM documents WHERE doc_id < 250),
       bgc AS MATERIALIZED (SELECT doc_id,
           CAST(('0x' || substr(md5('qc:' || sh), 1, 15))::BIGINT % 256 AS INT)
             AS bucket
         FROM ($BIGRAMS_SQL)),
       af AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM bgc GROUP BY 1, 2),
       fe AS MATERIALIZED (SELECT doc_id, bucket, cnt,
              SUM(cnt) OVER (PARTITION BY doc_id) AS n FROM af),
       lf AS MATERIALIZED (SELECT fe.* FROM fe JOIN lab0 USING (doc_id)),
       n0 AS MATERIALIZED (SELECT COUNT(*) AS nl FROM lab0)"""
    for ((c, k) <- classes.zipWithIndex) {
      val p = s"c$k"
      sb ++= s""",
       lab_$p AS MATERIALIZED (SELECT doc_id,
           CASE WHEN lang = '$c' THEN 1.0 ELSE 0.0 END AS y FROM lab0),
       w${p}_0 AS MATERIALIZED (SELECT DISTINCT bucket, 0.0 AS wt FROM lf),
       bs${p}_0 AS (SELECT 0.0 AS b)"""
      for (i <- 0 until iterations) {
        sb ++= s""",
       mg${p}_$i AS MATERIALIZED (SELECT f.doc_id,
           SUM(CAST(ROUND(w.wt * f.cnt / f.n * 1e6, 0) AS BIGINT)) AS mm
         FROM lf f JOIN w${p}_$i w USING (bucket) GROUP BY 1),
       r${p}_$i AS MATERIALIZED (SELECT lab.doc_id,
           CAST(ROUND((ROUND(1.0 / (1.0 + exp(-(bs.b + COALESCE(mg.mm, 0) / 1e6))), 6)
             - lab.y) * 1e6, 0) AS BIGINT) AS rm
         FROM lab_$p lab CROSS JOIN bs${p}_$i bs
         LEFT JOIN mg${p}_$i mg USING (doc_id)),
       bs${p}_${i + 1} AS MATERIALIZED (
         SELECT ROUND(bs.b - $lr * (SUM(r.rm) / 1e6) / n.nl, 6) AS b
         FROM r${p}_$i r CROSS JOIN bs${p}_$i bs CROSS JOIN n0 n
         GROUP BY bs.b, n.nl),
       g${p}_$i AS MATERIALIZED (SELECT f.bucket,
           SUM(CAST(ROUND(r.rm / 1e6 * f.cnt / f.n * 1e6, 0) AS BIGINT)) AS gm
         FROM lf f JOIN r${p}_$i r USING (doc_id) GROUP BY 1),
       w${p}_${i + 1} AS MATERIALIZED (SELECT w.bucket,
           ROUND(w.wt - $lr * (COALESCE(g.gm, 0) / 1e6) / n.nl, 6) AS wt
         FROM w${p}_$i w LEFT JOIN g${p}_$i g USING (bucket) CROSS JOIN n0 n)"""
      }
      sb ++= s""",
       sm_$p AS MATERIALIZED (SELECT f.doc_id,
           SUM(CAST(ROUND(COALESCE(w.wt, 0.0) * f.cnt / f.n * 1e6, 0) AS BIGINT))
             AS mm
         FROM fe f LEFT JOIN w${p}_$iterations w USING (bucket) GROUP BY 1)"""
    }
    val arms = classes.zipWithIndex.map { case (c, k) =>
      s"""SELECT d.doc_id, '$c' AS cls,
           ROUND(1.0 / (1.0 + exp(-(bs.b + COALESCE(sm.mm, 0) / 1e6))), 6) AS score
         FROM documents d CROSS JOIN bsc${k}_$iterations bs
         LEFT JOIN sm_c$k sm USING (doc_id)"""
    }.mkString(" UNION ALL ")
    sb ++= s""",
       sc AS ($arms),
       rnk AS (SELECT doc_id, cls, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score DESC, cls) AS rn
         FROM sc)
       SELECT doc_id, cls AS pred_label, score FROM rnk WHERE rn = 1
       ORDER BY doc_id"""
    sb.toString
  }

  /** DuckDB mirror of the FULL trained-BPE path (t61): w0/d0 build the
    * word-frequency table and per-document merge strings in a
    * wrapped-symbol form (every symbol space-padded, chr(288) = U+0120
    * space mark, chr(31) = pretoken boundary; w0's string is the word
    * key TextOps.bpeTrainMerges caps and tie-breaks on), then each
    * unrolled iteration i counts symbol pairs (p_i), picks the
    * count-desc/pair-asc argmax (b_i) and applies the literal
    * " l  r " -> " lr " replacement to both the vocabulary (w_{i+1})
    * and the documents (d_{i+1}). This is an independent
    * re-derivation, not a copy: Spark trains in memory and applies
    * with the rank-greedy BpeEncode kernel, which on a trained table
    * equals this one-pass-per-merge rank-order replace. */
  private def bpeOracleSql(numMerges: Int): String = {
    val pat = graft.text.TextOps.BpePattern.replace("'", "''")
    def wrap(x: String) =
      s"' ' || array_to_string(string_split(replace($x, ' ', chr(288)), ''), '  ') || ' '"
    val sb = new StringBuilder
    sb ++= s"""WITH w0 AS MATERIALIZED (
       SELECT ${wrap("tok")} AS s, CAST(COUNT(*) AS BIGINT) AS wc FROM (
         SELECT unnest(regexp_extract_all(text, '$pat')) AS tok FROM documents)
       GROUP BY 1 ORDER BY wc DESC, s LIMIT 65536),
     d0 AS MATERIALIZED (
       SELECT doc_id, array_to_string(list_transform(
         regexp_extract_all(text, '$pat'), t -> ${wrap("t")}), chr(31)) AS s
       FROM documents)"""
    for (i <- 0 until numMerges) {
      sb ++= s""",
     p$i AS MATERIALIZED (
       SELECT y[j] AS l, y[j + 1] AS r, SUM(wc) AS cnt FROM (
         SELECT wc, y, unnest(generate_series(1, len(y) - 1)) AS j FROM (
           SELECT wc, string_split(trim(s), '  ') AS y FROM w$i))
       GROUP BY 1, 2),
     b$i AS MATERIALIZED (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
     w${i + 1} AS MATERIALIZED (
       SELECT replace(s, ' ' || l || '  ' || r || ' ',
         ' ' || l || r || ' ') AS s, wc FROM w$i, b$i),
     d${i + 1} AS MATERIALIZED (
       SELECT doc_id, replace(s, ' ' || l || '  ' || r || ' ',
         ' ' || l || r || ' ') AS s FROM d$i, b$i)"""
    }
    sb ++= s""",
     fin AS (SELECT doc_id, trim(regexp_replace(s,
       '[' || chr(31) || ' ]+', ' ', 'g')) AS toks FROM d$numMerges)
     SELECT doc_id,
       CAST(CASE WHEN toks = '' THEN 0
         ELSE len(string_split(toks, ' ')) END AS BIGINT) AS n_tokens,
       toks AS tokens
     FROM fin ORDER BY doc_id"""
    sb.toString
  }

  private val SHINGLES_SQL =
    s"""SELECT doc_id, list_extract(w, i) || ' ' || list_extract(w, i+1) || ' ' ||
       list_extract(w, i+2) AS sh
       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
             FROM ($TOKS_SQL))"""

  /** 2-word shingles with the head word alongside (t40's LM bigrams). */
  private val BIGRAMS_SQL =
    s"""SELECT doc_id, list_extract(w, i) AS w1,
       list_extract(w, i) || ' ' || list_extract(w, i+1) AS sh
       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i
             FROM ($TOKS_SQL))"""

  /** Trained k-means assignment chain shared by t13 and t41: 4 seed
    * centroids (vec_id < 4), 2 Lloyd iterations, final 4-dp-rounded
    * cosine assignment in `af` (vec_id, v, cell). Splices after WITH. */
  private val KMEANS_TRAINED_ASSIGN_CTES: String = {
    val meanList = (1 to 64).map(i => s"AVG(v[$i])").mkString("[", ", ", "]")
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    def assign(cent: String, name: String, rounded: Boolean) = {
      val sim = if (rounded) s"ROUND(${cos("v", "cv")}, 4)" else cos("v", "cv")
      s"""${name}s AS (SELECT d.vec_id, d.v, cell, $sim AS sim FROM d, $cent),
         $name AS (SELECT vec_id, v, cell FROM (
           SELECT vec_id, v, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
           FROM ${name}s) WHERE rn = 1)"""
    }
    def lloyd(prev: String, assigned: String, next: String) =
      s"""${next}m AS (SELECT cell, $meanList AS cv FROM $assigned GROUP BY cell),
         $next AS (SELECT p.cell, COALESCE(m.cv, p.cv) AS cv
           FROM $prev p LEFT JOIN ${next}m m USING (cell))"""
    s"""d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c0 AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 4),
         ${assign("c0", "a0", rounded = false)},
         ${lloyd("c0", "a0", "c1")},
         ${assign("c1", "a1", rounded = false)},
         ${lloyd("c1", "a1", "c2")},
         ${assign("c2", "af", rounded = true)}"""
  }

  /** Capped-SemDeDup mirror (t44): splices the trained-assignment
    * chain, then `refine` rounds that split every cell above `cap`
    * members by re-assigning its rows to the cell's ceil(n/cap)
    * smallest-vec_id member vectors — exactly
    * Similarity.semDedup(maxCellSize=50, refineRounds=2): rounded-4
    * cosine, member-x-seed md5 tie-break, path-string cell ids. */
  /** Capped-SemDeDup mirror, parameterized by (cap, refineRounds) so
    * the SAME builder serves both t44 (cap=50, 2 rounds) and t41's
    * DEFAULT path (cap=500, 3 rounds — splits first trigger at sf0.1,
    * where an uncapped mirror silently diverges). Returns the WITH
    * body; the final refined frame is r<rounds>, drops in capdrops. */
  private def semdedupCappedSql(cap: Int, rounds: Int): String = {
    def cosR(a: String, b: String) =
      s"""ROUND(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a))
         * sqrt(list_dot_product($b, $b))), 4)"""
    // Every CTE in the refine chain is referenced 2+ times; DuckDB
    // inlines plain CTEs, re-evaluating the whole chain combinatorially
    // (measured: 621 s for cap=500/rounds=3 at sf0.01 vs 0.1 s
    // materialized, identical rows). AS MATERIALIZED throughout.
    def refine(prev: String, next: String) =
      s"""${next}o AS MATERIALIZED (SELECT cell, CAST(CEIL(COUNT(*) / $cap.0) AS INT) AS k
           FROM $prev GROUP BY cell HAVING COUNT(*) > $cap),
         ${next}m AS MATERIALIZED (SELECT p.vec_id, p.v, p.cell, o.k
           FROM $prev p JOIN ${next}o o USING (cell)),
         ${next}s AS MATERIALIZED (SELECT cell, vec_id AS sid, v AS sv FROM (
           SELECT cell, vec_id, v, k,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS r
           FROM ${next}m) WHERE r <= k),
         ${next}a AS MATERIALIZED (SELECT vec_id, v, cell || '/' || sid AS cell FROM (
           SELECT m.vec_id, m.v, m.cell, s.sid,
             ROW_NUMBER() OVER (PARTITION BY m.vec_id
               ORDER BY ${cosR("m.v", "s.sv")} DESC,
                 ('0x' || substr(md5(m.vec_id::VARCHAR || '/' || s.sid::VARCHAR),
                   1, 15))::BIGINT, s.sid) AS rn
           FROM ${next}m m JOIN ${next}s s USING (cell)) WHERE rn = 1),
         $next AS MATERIALIZED (SELECT vec_id, v, cell FROM $prev
            WHERE cell NOT IN (SELECT cell FROM ${next}o)
            UNION ALL SELECT vec_id, v, cell FROM ${next}a)"""
    val chain = (0 until rounds)
      .map(i => refine(s"r$i", s"r${i + 1}")).mkString(",\n       ")
    val fin = s"r$rounds"
    s"""$KMEANS_TRAINED_ASSIGN_CTES,
       r0 AS MATERIALIZED (SELECT vec_id, v, cell::VARCHAR AS cell FROM af),
       $chain,
       capdrops AS MATERIALIZED (SELECT DISTINCT a.vec_id FROM $fin a JOIN $fin b
         ON a.cell = b.cell AND b.vec_id < a.vec_id
         AND ${cosR("a.v", "b.v")} >= 0.3)"""
  }

  /** Unigram-LM tokenizer mirror (t139): recomputes BOTH the training
    * (substring candidates over distinct words, single-chars + top-V
    * multis, micro-unit ln scores) and the Viterbi DP — unrolled to
    * `unroll` word positions (per-position argmax over piece lengths
    * 1..maxPieceLen with the engine's exact comparator: score DESC,
    * piece count ASC, last-piece length DESC), carrying the piece path
    * so the emitted segmentation is pinned verbatim. The mirrors are
    * instantiated with unroll = 16; a word longer than THAT drops out
    * of the DP's inner-join roll-up entirely (row-count mismatch →
    * visible hash fail, never a silent pass) — if a future fixture
    * grows words past 16 chars, raise `unroll` in the instantiations
    * below rather than chasing an unexplained red row. */
  /** The per-word Viterbi DP, unrolled: emits CTEs b<sfx>1..b<sfx>U
    * and worddp<sfx> decoding every distinct word (`dw`) under the
    * `vocabCte` score table. Each position's candidates are the vocab
    * legs for lengths 1..maxPieceLen PLUS the UNK leg (an anti-join on
    * the single char — the engine's out-of-vocabulary lattice
    * candidate at UnkScoreMicro), picked by the engine's exact
    * comparator (score DESC, piece count ASC, last-piece length
    * DESC). */
  private def unigramDpSql(vocabCte: String, sfx: String, maxPieceLen: Int,
      unroll: Int): String = {
    val unk = graft.text.UnigramApply.UnkScoreMicro
    def prev(i: Int, l: Int) = if (i - l == 0) "b0" else s"b$sfx${i - l}"
    def legs(i: Int): String = {
      val vocabLegs = (1 to math.min(i, maxPieceLen)).map { l =>
        s"""SELECT b.word, b.wl, b.s + v.score AS s, b.n + 1 AS n,
           b.p || ' ' || substr(b.word, ${i - l + 1}, $l) AS p, $l AS l
           FROM ${prev(i, l)} b JOIN $vocabCte v
             ON v.piece = substr(b.word, ${i - l + 1}, $l)
           WHERE b.wl >= $i"""
      }
      val unkLeg =
        s"""SELECT b.word, b.wl, b.s + ($unk) AS s, b.n + 1 AS n,
           b.p || ' ' || substr(b.word, $i, 1) AS p, 1 AS l
           FROM ${prev(i, 1)} b
           WHERE b.wl >= $i AND NOT EXISTS (SELECT 1 FROM $vocabCte v
             WHERE v.piece = substr(b.word, $i, 1))"""
      (vocabLegs :+ unkLeg).mkString(" UNION ALL ")
    }
    val steps = (1 to unroll).map { i =>
      s"""b$sfx$i AS MATERIALIZED (
         SELECT word, wl, s, n, p FROM (
           SELECT word, wl, s, n, p, ROW_NUMBER() OVER (
             PARTITION BY word ORDER BY s DESC, n ASC, l DESC) AS rn
           FROM (${legs(i)})) WHERE rn = 1)"""
    }.mkString(",\n       ")
    val wordDp = (1 to unroll)
      .map(i => s"SELECT word, s, n, ltrim(p) AS p FROM b$sfx$i WHERE wl = $i")
      .mkString(" UNION ALL ")
    s"""$steps,
       worddp$sfx AS MATERIALIZED ($wordDp)"""
  }

  /** Unigram training CTEs (t139/t140 share them): word counts,
    * substring candidates over distinct words, singles + top-V multis,
    * micro-unit ln scores (`vocab`), the distinct-word DP base (`dw`,
    * `b0`) and the per-doc word-occurrence list (`dwords`). */
  private def unigramTrainSql(vocabSize: Int, maxPieceLen: Int): String =
    s"""tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
           '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
       w AS (SELECT unnest(toks) AS word FROM tk),
       wf AS MATERIALIZED (SELECT word, COUNT(*) AS wf FROM w GROUP BY 1),
       pos AS (SELECT word, wf, unnest(range(1, len(word) + 1)) AS st FROM wf),
       pc AS MATERIALIZED (SELECT substr(word, st, l.l) AS piece,
           SUM(wf) AS freq
         FROM pos, (SELECT unnest(range(1, ${maxPieceLen + 1})) AS l) l
         WHERE st + l.l - 1 <= len(word) GROUP BY 1),
       singles AS (SELECT piece, freq FROM pc WHERE len(piece) = 1),
       multis AS (SELECT piece, freq FROM (
         SELECT piece, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, piece) AS rn
         FROM pc WHERE len(piece) >= 2) WHERE rn <= $vocabSize),
       kept AS (SELECT * FROM singles UNION ALL SELECT * FROM multis),
       vocab AS MATERIALIZED (SELECT piece,
         CAST(ROUND(ln(freq::DOUBLE / (SELECT SUM(freq) FROM kept))
           * 1000000, 0) AS BIGINT) AS score FROM kept),
       dw AS MATERIALIZED (SELECT DISTINCT word, len(word) AS wl FROM wf),
       b0 AS (SELECT word, wl, 0::BIGINT AS s, 0 AS n, '' AS p FROM dw),
       dwords AS (SELECT doc_id, unnest(toks) AS word,
         unnest(range(1, len(toks) + 1)) AS idx FROM tk)"""

  /** Per-doc roll-up of a worddp decode: (doc_id, pieces in word
    * order, n_pieces, score_micro). */
  private def unigramAggSql(worddpCte: String, aggCte: String): String =
    s"""$aggCte AS (SELECT d.doc_id,
           string_agg(wd.p, ' ' ORDER BY d.idx) AS pieces,
           SUM(wd.n) AS n_pieces, SUM(wd.s) AS score_micro
         FROM dwords d JOIN $worddpCte wd USING (word) GROUP BY 1)"""

  private def unigramSql(vocabSize: Int, maxPieceLen: Int,
      unroll: Int): String =
    s"""${unigramTrainSql(vocabSize, maxPieceLen)},
       ${unigramDpSql("vocab", "", maxPieceLen, unroll)},
       ${unigramAggSql("worddp", "uniagg")}"""

  /** t140: one Viterbi-EM round on top of t139's seed — piece counts
    * from the seed decode (word multiplicity included), re-scored as
    * ln(count/total) micro-units, then a SECOND full DP under the
    * re-estimated table. */
  private def unigramEmSql(vocabSize: Int, maxPieceLen: Int,
      unroll: Int): String =
    s"""${unigramSql(vocabSize, maxPieceLen, unroll)},
       emc AS MATERIALIZED (SELECT unnest(string_split(wd.p, ' ')) AS piece
         FROM dwords d JOIN worddp wd USING (word)),
       vocab2 AS MATERIALIZED (SELECT piece,
         CAST(ROUND(ln(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM emc))
           * 1000000, 0) AS BIGINT) AS score FROM emc GROUP BY 1),
       ${unigramDpSql("vocab2", "e", maxPieceLen, unroll)},
       ${unigramAggSql("worddpe", "uniagge")}"""

  /** PQ pipeline mirror (t33/t34): codebook from the first 16 vectors'
    * subvectors, squared-L2 via the dot identity on DOUBLE[] slices —
    * element order preserved by slicing, so list_dot_product bit-matches
    * the Spark Dot kernel exactly as in t07. */
  private val PQ_SQL =
    """d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       ss AS (SELECT unnest([0,1,2,3]) AS sub_idx),
       cb AS (SELECT d.vec_id AS code_id, sub_idx,
               list_slice(v, sub_idx*16+1, sub_idx*16+16) AS cv
              FROM d, ss WHERE d.vec_id < 16),
       sub AS (SELECT vec_id, sub_idx,
                list_slice(v, sub_idx*16+1, sub_idx*16+16) AS sv
               FROM d, ss),
       sc AS (SELECT vec_id, sub_idx, code_id,
               ROUND(list_dot_product(sv, sv) - 2.0*list_dot_product(sv, cv)
                 + list_dot_product(cv, cv), 6) + 0.0 AS d2
              FROM sub JOIN cb USING (sub_idx)),
       best AS (SELECT vec_id, sub_idx, code_id, d2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub_idx
                   ORDER BY d2, code_id) AS brn
                FROM sc),
       enc AS (SELECT vec_id, list(code_id ORDER BY sub_idx) AS codes,
                ROUND(SUM(d2), 6) + 0.0 AS err
               FROM best WHERE brn = 1 GROUP BY vec_id)"""

  /** Trained-PQ mirror (t42): per-subspace Lloyd k-means — 16 seed
    * codes (vec_id < 16, code_id = seed rank = vec_id), 2 iterations,
    * squared-L2 assignment with the same 6-dp rounding + smaller-code
    * tie-break as pqEncode/sqDist6, and centroid means rounded to 6 dp
    * exactly like Similarity.pqTrainCodebook so both engines train the
    * bit-identical codebook. Structure mirrors KMEANS_TRAINED_ASSIGN_CTES
    * with (sub_idx, code_id) in place of cell. */
  private val PQ_TRAINED_SQL: String = {
    val meanList = (1 to 16).map(i => s"ROUND(AVG(sv[$i]), 6)")
      .mkString("[", ", ", "]")
    def d2(a: String, b: String) =
      s"""ROUND(list_dot_product($a, $a) - 2.0*list_dot_product($a, $b)
         + list_dot_product($b, $b), 6) + 0.0"""
    def assign(cent: String, name: String) =
      s"""${name}s AS (SELECT sub.vec_id, sub.sub_idx, sub.sv, code_id,
            ${d2("sv", "cv")} AS d2
           FROM sub JOIN $cent USING (sub_idx)),
         $name AS (SELECT vec_id, sub_idx, sv, code_id, d2 FROM (
           SELECT vec_id, sub_idx, sv, code_id, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub_idx
               ORDER BY d2, code_id) AS rn
           FROM ${name}s) WHERE rn = 1)"""
    def lloyd(prev: String, assigned: String, next: String) =
      s"""${next}m AS (SELECT sub_idx, code_id, $meanList AS cv
           FROM $assigned GROUP BY 1, 2),
         $next AS (SELECT p.sub_idx, p.code_id, COALESCE(m.cv, p.cv) AS cv
           FROM $prev p LEFT JOIN ${next}m m USING (sub_idx, code_id))"""
    s"""d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       ss AS (SELECT unnest([0,1,2,3]) AS sub_idx),
       sub AS (SELECT vec_id, sub_idx,
                list_slice(v, sub_idx*16+1, sub_idx*16+16) AS sv
               FROM d, ss),
       k0 AS (SELECT CAST(vec_id AS BIGINT) AS code_id, sub_idx, sv AS cv
              FROM sub WHERE vec_id < 16),
       ${assign("k0", "pa0")},
       ${lloyd("k0", "pa0", "k1")},
       ${assign("k1", "pa1")},
       ${lloyd("k1", "pa1", "k2")},
       ${assign("k2", "paf")},
       tenc AS (SELECT vec_id, list(code_id ORDER BY sub_idx) AS codes,
                 ROUND(SUM(d2), 6) + 0.0 AS err
                FROM paf GROUP BY vec_id)"""
  }

  /** 60-bit numeric minhash half (mirrors TextOps.minhashSignature's
    * conv(hex,16,10) longs — '0x'-cast is DuckDB's hex parse). */
  private def mhAgg(i: Int): String =
    s"MIN(('0x' || substr(md5('${i / 2}:' || sh), ${if (i % 2 == 0) 1 else 17}, 15))::BIGINT)"

  /** Lang-ID SQL pieces (per-language ratio columns, the argmax CASE),
    * generated from the SAME profile map as the Spark operator — shared
    * by the standalone t20 oracle and the t22 curation gate so the two
    * can never drift. Returns (ratioSelectList, predExpr). */
  private def langIdSqlParts: (String, String) = {
    val langs = graft.text.TextOps.langProfiles.keys.toSeq.sorted
    def lst(l: String) = graft.text.TextOps.langProfiles(l)
      .map(wd => s"'$wd'").mkString("[", ",", "]")
    def ratio(l: String) =
      s"""ROUND(CASE WHEN len(w) = 0 THEN NULL
         ELSE CAST(len(list_filter(w, x -> list_contains(${lst(l)}, x))) AS DOUBLE) / len(w)
         END, 6)"""
    val rs = langs.map(l => s"${ratio(l)} AS r_$l").mkString(", ")
    val best = s"GREATEST(${langs.map(l => s"COALESCE(r_$l, -1)").mkString(", ")})"
    val pred = langs.map(l =>
        s"WHEN r_$l IS NOT NULL AND r_$l >= 0.05 AND r_$l = $best THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'unknown' END")
    (rs, pred)
  }

  private val MH_SQL =
    s"""SELECT doc_id, ${(0 until 8).map(i => s"${mhAgg(i)} AS h$i").mkString(", ")}
       FROM ($SHINGLES_SQL) GROUP BY doc_id"""

  /** SQL twin of [[TextOps.lshCandidatePairs]]: candidate pairs from
    * an LSH bucket relation with the hot-bucket star-edge cap. Emits
    * TWO comma-separated CTE bodies — `<out>_sz` (per-bucket size and
    * min-id windowed onto each member) and `<out>` (distinct a_id <
    * b_id pairs: all pairs in buckets at or under
    * [[TextOps.HotBucketCap]], star edges to the bucket-min member
    * above it) — splice into a WITH chain where the single all-pairs
    * CTE used to sit. */
  private def candPairsCtes(rel: String, out: String,
      keys: Seq[String] = Seq("bucket"), id: String = "doc_id"): String = {
    val part = keys.mkString(", ")
    val joinOn = keys.map(k => s"x.$k = y.$k").mkString(" AND ")
    s"""${out}_sz AS (SELECT $id, $part,
         COUNT(*) OVER (PARTITION BY $part) AS bn,
         MIN($id) OVER (PARTITION BY $part) AS bmin
       FROM $rel),
     $out AS (SELECT DISTINCT a_id, b_id FROM (
       SELECT x.$id AS a_id, y.$id AS b_id
       FROM ${out}_sz x JOIN ${out}_sz y
       ON $joinOn AND x.$id < y.$id
       WHERE x.bn <= ${TextOps.HotBucketCap}
       UNION ALL
       SELECT bmin AS a_id, $id AS b_id FROM ${out}_sz
       WHERE bn > ${TextOps.HotBucketCap} AND $id <> bmin))"""
  }

  /** SQL twin of [[TextOps.packSequencesAtomic]]: the atomic (no-split)
    * bin-packing recurrences as recursive CTEs — `pack` (best-fit-
    * decreasing: docs per (source, md5-sub-shard) group in (n_tok desc,
    * doc_id) order, each placed in the fullest open bin that still
    * fits, ties -> lowest bin id; state = the group's bin-fill list)
    * and `nfpack` (arrival-order next-fit: one open bin, scalar state).
    * Bin ids are creation-ordered, exactly the Spark kernel's. Splice
    * after WITH RECURSIVE; emits CTEs toks/ranked/pack/nfranked/nfpack. */
  private def atomicPackCtes(budget: Int, nShards: Int): String =
    s"""toks AS (
         SELECT source, doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS BIGINT) AS n_tok,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % $nShards AS INT) AS shard
         FROM documents),
       ranked AS (
         SELECT source, shard, doc_id, n_tok,
           ROW_NUMBER() OVER (PARTITION BY source, shard
             ORDER BY n_tok DESC, doc_id) AS r
         FROM toks),
       pack AS (
         SELECT source, shard, CAST(0 AS BIGINT) AS r,
           CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tok,
           CAST(NULL AS BIGINT) AS bin, CAST([] AS BIGINT[]) AS fills
         FROM (SELECT DISTINCT source, shard FROM ranked)
         UNION ALL
         SELECT p.source, p.shard, d.r, d.doc_id, d.n_tok,
           CASE WHEN best IS NULL THEN len(p.fills)::BIGINT
                ELSE best - 1 END AS bin,
           CASE WHEN best IS NULL THEN list_append(p.fills, d.n_tok)
                ELSE list_transform(list_zip(p.fills, range(1, len(p.fills)+1)),
                       z -> CASE WHEN z[2] = best THEN z[1] + d.n_tok
                                 ELSE z[1] END)
           END AS fills
         FROM (
           SELECT p.*, d.r AS dr,
             (SELECT min(i) FROM (
                SELECT unnest(p.fills) AS f,
                       unnest(range(1, len(p.fills)+1)) AS i) q
              WHERE q.f + d.n_tok <= $budget
                AND q.f = (SELECT max(f) FROM (
                  SELECT unnest(p.fills) AS f) q2
                  WHERE q2.f + d.n_tok <= $budget)) AS best
           FROM pack p JOIN ranked d
             ON d.source = p.source AND d.shard = p.shard
               AND d.r = p.r + 1) p
         JOIN ranked d
           ON d.source = p.source AND d.shard = p.shard AND d.r = p.dr),
       nfranked AS (
         SELECT source, shard, doc_id, n_tok,
           ROW_NUMBER() OVER (PARTITION BY source, shard
             ORDER BY doc_id) AS r
         FROM toks),
       nfpack AS (
         SELECT source, shard, CAST(0 AS BIGINT) AS r,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(0 AS BIGINT) AS fill, CAST(-1 AS BIGINT) AS bin
         FROM (SELECT DISTINCT source, shard FROM nfranked)
         UNION ALL
         SELECT p.source, p.shard, d.r, d.doc_id,
           CASE WHEN p.bin >= 0 AND p.fill + d.n_tok <= $budget
                THEN p.fill + d.n_tok ELSE d.n_tok END AS fill,
           CASE WHEN p.bin >= 0 AND p.fill + d.n_tok <= $budget
                THEN p.bin ELSE p.bin + 1 END AS bin
         FROM nfpack p JOIN nfranked d
           ON d.source = p.source AND d.shard = p.shard
             AND d.r = p.r + 1)"""

  /** The caption curation core's CTE chain — minhash -> banded
    * buckets -> capped candidates -> Jaccard verify -> CC -> token /
    * language stats — re-rooted at a `docs(doc_id, text)` CTE the
    * composed mirrors provide (exact text dedup belongs in the
    * caller's `docs` definition). Exposes `cc`, `wf` (n/mx token
    * stats) and `lang` (lang_pred); callers join those in their final
    * SELECT and filter survivors with [[curationSurvivorWhere]].
    * Written once so the composed multimodal mirrors (t110/t122/t123/
    * t124) cannot drift from the single-op oracles or each other.
    * Requires the statement to open with WITH RECURSIVE (for reach). */
  private def curationCoreCtes: String = {
    val toksC = TOKS_SQL.replace("FROM documents", "FROM docs")
    val mhC = MH_SQL.replace("FROM documents", "FROM docs")
    val (rs, pred) = langIdSqlParts
    s"""mh AS MATERIALIZED ($mhC),
       buckets AS (
         ${(0 until 4).map(b =>
           s"SELECT doc_id, md5('b$b:' || h${2 * b} || ':' || h${2 * b + 1}) AS bucket FROM mh")
           .mkString(" UNION ALL ")}),
       ${candPairsCtes("buckets", "cand")},
       sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (
         SELECT doc_id, list_extract(w, i) || ' ' || list_extract(w, i+1) || ' ' ||
                list_extract(w, i+2) AS sh
         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
               FROM ($toksC)))),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       inter AS (SELECT p.a_id, p.b_id, COUNT(*) AS n_inter
         FROM cand p
         JOIN sh sa ON sa.doc_id = p.a_id
         JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
         GROUP BY 1, 2),
       verified AS (SELECT p.a_id, p.b_id FROM cand p
         JOIN sizes na ON na.doc_id = p.a_id
         JOIN sizes nb ON nb.doc_id = p.b_id
         LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         WHERE CASE WHEN na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0) > 0
           THEN COALESCE(i.n_inter, 0)::DOUBLE /
             (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0))
           ELSE 0.0 END >= 0.5),
       edges AS (SELECT a_id, b_id FROM verified
         UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM verified),
       nodes AS (SELECT DISTINCT a_id AS id FROM edges),
       reach(id, r) AS (
         SELECT id, id AS r FROM nodes
         UNION
         SELECT e.a_id AS id, reach.r FROM edges e
         JOIN reach ON reach.id = e.b_id),
       cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       tq AS MATERIALIZED ($toksC),
       wf AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS mx
         FROM (SELECT doc_id, t, COUNT(*) AS c
               FROM (SELECT doc_id, unnest(w) AS t FROM tq) GROUP BY 1, 2)
         GROUP BY 1),
       lang AS (SELECT doc_id, $pred AS lang_pred
         FROM (SELECT doc_id, $rs FROM tq))"""
  }

  /** Survivor predicate over [[curationCoreCtes]]' `cc`/`wf`/`lang`
    * for a row aliased `d` — curateCorpus's default gates. */
  private val curationSurvivorWhere: String =
    """d.doc_id NOT IN (SELECT id FROM cc WHERE cluster <> id)
       AND lang.lang_pred = 'en'
       AND wf.n BETWEEN 20 AND 80
       AND ROUND(CAST(wf.mx AS DOUBLE) / wf.n, 6) <= 0.12"""

  /** The planted near-dup CAPTION-CURATION pipeline mirror,
    * parameterized by class salt and output signature column — one
    * statement shared by the image (t122, imgcls/ahash), audio (t129,
    * audcls/afp) and video (t130, vidcls/vfp) editions of
    * captionCurateNearDup: the md5-rule pattern chain resolves
    * near-dup survivors, the shared curation core gates their
    * captions, and the output carries the planted signature the real
    * codec path provably reproduces. */
  private def plantedNearDupCurateSql(salt: String, outCol: String): String =
    s"""WITH RECURSIVE pat AS (SELECT doc_id,
           xor(('0x' || substr(md5('$salt:' || CAST(doc_id // 5 AS VARCHAR)), 1, 15))::BIGINT,
               (1::BIGINT << CAST(doc_id % 5 AS INTEGER)) - 1) AS h
         FROM documents),
         ibands AS (SELECT doc_id, b, (h >> (16 * b)) & 65535 AS v
           FROM pat, (SELECT unnest(generate_series(0, 3)) AS b)),
         ${candPairsCtes("ibands", "icand", keys = Seq("b", "v"))},
         iverified AS (SELECT a_id, b_id FROM icand
           JOIN pat pa ON pa.doc_id = a_id
           JOIN pat pb ON pb.doc_id = b_id
           WHERE bit_count(xor(pa.h, pb.h)) <= 3),
         iedges AS (SELECT a_id, b_id FROM iverified
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM iverified),
         inodes AS (SELECT DISTINCT a_id AS id FROM iedges),
         ireach(id, r) AS (
           SELECT id, id AS r FROM inodes
           UNION
           SELECT e.a_id AS id, ireach.r FROM iedges e
           JOIN ireach ON ireach.id = e.b_id),
         icc AS (SELECT id, MIN(r) AS cluster FROM ireach GROUP BY id),
         caps AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
           WHERE d.doc_id NOT IN (SELECT id FROM icc WHERE cluster <> id)),
         docs AS MATERIALIZED (SELECT c.doc_id, c.text FROM caps c
           WHERE c.doc_id IN (SELECT MIN(doc_id) FROM caps GROUP BY md5(text))),
         $curationCoreCtes
         SELECT d.doc_id, p.h AS $outCol, CAST(wf.n AS BIGINT) AS n_tokens
         FROM docs d
         JOIN pat p ON p.doc_id = d.doc_id
         JOIN wf ON wf.doc_id = d.doc_id
         JOIN lang ON lang.doc_id = d.doc_id
         WHERE $curationSurvivorWhere
         ORDER BY d.doc_id"""

  /** The planted-envelope near-dup mirror, parameterized by the class
    * salt — one statement shared by the image aHash (t111, imgcls),
    * audio energy-envelope (t125, audcls) and video luminance-envelope
    * (t126, vidcls) dedup oracles: the md5-rule pattern, 16-bit band
    * candidates through the shared hot-bucket cap, bit_count Hamming
    * verify, recursive-reach CC, min-id cluster labels. The three
    * Spark sides each EARN the shared recompute through a different
    * real codec path (ImageIO decode + resample; javax.sound PCM +
    * window RMS; ISO-BMFF sample walk + frame mean-gray). */
  private def plantedEnvelopeDedupSql(salt: String): String =
    s"""WITH RECURSIVE pat AS (SELECT doc_id,
           xor(('0x' || substr(md5('$salt:' || CAST(doc_id // 5 AS VARCHAR)), 1, 15))::BIGINT,
               (1::BIGINT << CAST(doc_id % 5 AS INTEGER)) - 1) AS h
         FROM documents),
         bands AS (SELECT doc_id, b, (h >> (16 * b)) & 65535 AS v
           FROM pat, (SELECT unnest(generate_series(0, 3)) AS b)),
         ${candPairsCtes("bands", "cand", keys = Seq("b", "v"))},
         verified AS (SELECT a_id, b_id FROM cand
           JOIN pat pa ON pa.doc_id = a_id
           JOIN pat pb ON pb.doc_id = b_id
           WHERE bit_count(xor(pa.h, pb.h)) <= 3),
         edges AS (SELECT a_id, b_id FROM verified
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM verified),
         nodes AS (SELECT DISTINCT a_id AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id AS r FROM nodes
           UNION
           SELECT e.a_id AS id, reach.r FROM edges e
           JOIN reach ON reach.id = e.b_id),
         cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         SELECT id AS media_id, cluster FROM cc ORDER BY media_id"""

  /** One planted-envelope modality's per-modality CC block for the
    * cross-modal mirrors — [[plantedEnvelopeDedupSql]]'s chain (md5
    * pattern -> 16-bit bands -> capped candidates -> Hamming verify ->
    * recursive reach -> min-id labels) with every CTE name prefixed by
    * `p` so several modalities splice into ONE statement. Exposes
    * `${p}verified` (the pair list) and `${p}cc` (id -> cluster). */
  private def plantedCcCtes(salt: String, p: String): String =
    s"""${p}pat AS (SELECT doc_id,
           xor(('0x' || substr(md5('$salt:' || CAST(doc_id // 5 AS VARCHAR)), 1, 15))::BIGINT,
               (1::BIGINT << CAST(doc_id % 5 AS INTEGER)) - 1) AS h
         FROM documents),
       ${p}bands AS (SELECT doc_id, b, (h >> (16 * b)) & 65535 AS v
         FROM ${p}pat, (SELECT unnest(generate_series(0, 3)) AS b)),
       ${candPairsCtes(s"${p}bands", s"${p}cand", keys = Seq("b", "v"))},
       ${p}verified AS (SELECT a_id, b_id FROM ${p}cand
         JOIN ${p}pat pa ON pa.doc_id = a_id
         JOIN ${p}pat pb ON pb.doc_id = b_id
         WHERE bit_count(xor(pa.h, pb.h)) <= 3),
       ${p}edges AS (SELECT a_id, b_id FROM ${p}verified
         UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM ${p}verified),
       ${p}nodes AS (SELECT DISTINCT a_id AS id FROM ${p}edges),
       ${p}reach(id, r) AS (
         SELECT id, id AS r FROM ${p}nodes
         UNION
         SELECT e.a_id AS id, ${p}reach.r FROM ${p}edges e
         JOIN ${p}reach ON ${p}reach.id = e.b_id),
       ${p}cc AS (SELECT id, MIN(r) AS cluster FROM ${p}reach GROUP BY id)"""

  /** The modal FUNNEL mirror, parameterized by the planted class salt
    * and the near-dup stage name — one statement shared by the image
    * (t128), audio (t134) and video (t135) funnel oracles: the
    * [[plantedCcCtes]] per-modality near-dup chain, min-id survivor
    * ids, the caption curation chain re-rooted at those survivors, and
    * each stage's survivor set COUNTED instead of projected. */
  private def plantedFunnelSql(salt: String, uniqueStage: String): String =
    s"""WITH RECURSIVE ${plantedCcCtes(salt, "i")},
         keepids AS (SELECT doc_id FROM documents
           WHERE doc_id NOT IN (SELECT id FROM icc WHERE cluster <> id)),
         caps AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
           WHERE d.doc_id IN (SELECT doc_id FROM keepids)),
         docs AS MATERIALIZED (SELECT c.doc_id, c.text FROM caps c
           WHERE c.doc_id IN (SELECT MIN(doc_id) FROM caps GROUP BY md5(text))),
         $curationCoreCtes,
         curated AS (SELECT d.doc_id FROM docs d
           JOIN wf ON wf.doc_id = d.doc_id
           JOIN lang ON lang.doc_id = d.doc_id
           WHERE $curationSurvivorWhere)
         SELECT * FROM (
           SELECT CAST(0 AS INTEGER) AS stage_idx, 'media' AS stage,
             (SELECT COUNT(*) FROM documents) AS n_docs
           UNION ALL SELECT 1, 'decodable',
             (SELECT COUNT(*) FROM documents)
           UNION ALL SELECT 2, '$uniqueStage',
             (SELECT COUNT(*) FROM keepids)
           UNION ALL SELECT 3, 'curated',
             (SELECT COUNT(*) FROM curated))
         ORDER BY stage_idx"""

  /** Paragraph pool for t65 — shared between the Spark query's
    * synthetic text and the DuckDB mirror so the construction rule is
    * written once. */
  private val ParagraphPool = Seq(
    "shared paragraph alpha about spark shuffles",
    "shared paragraph beta about parquet scans",
    "shared paragraph gamma about broadcast joins",
    "shared paragraph delta about hash aggregates",
    "shared paragraph epsilon about window functions",
    "shared paragraph zeta about sort merge joins")

  /** t65 mirror: same synthetic paragraph construction, then exact
    * first-(doc,pos)-wins paragraph dedup + per-doc reassembly. */
  private val PARAGRAPH_DEDUP_SQL: String = {
    val pool = ParagraphPool.map(p => s"'$p'").mkString("[", ", ", "]")
    val sep = "chr(10) || chr(10)"
    s"""WITH src AS (SELECT doc_id,
           ($pool)[CAST(doc_id % 6 AS INT) + 1] || $sep ||
           ($pool)[CAST((doc_id*3 + 1) % 6 AS INT) + 1] || $sep ||
           'doc ' || doc_id || ' unique notes' || $sep ||
           ($pool)[CAST((doc_id*7 + 2) % 6 AS INT) + 1] AS ptext
         FROM documents),
       d AS (SELECT doc_id, string_split(ptext, $sep) AS l FROM src),
       p0 AS (SELECT doc_id, CAST(unnest(range(len(l))) AS BIGINT) AS pos, l
              FROM d),
       p AS (SELECT doc_id, pos, trim(l[CAST(pos AS INT) + 1]) AS par
             FROM p0 WHERE trim(l[CAST(pos AS INT) + 1]) <> ''),
       f AS (SELECT par, min(doc_id) AS fdoc FROM p GROUP BY par),
       f2 AS (SELECT p.par, f.fdoc, min(p.pos) AS fpos
              FROM p JOIN f ON p.par = f.par AND p.doc_id = f.fdoc
              GROUP BY p.par, f.fdoc),
       m AS (SELECT p.doc_id, p.pos, p.par,
              (p.doc_id = f2.fdoc AND p.pos = f2.fpos) AS kept
             FROM p JOIN f2 ON p.par = f2.par)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         COALESCE(string_agg(CASE WHEN kept THEN par END, $sep ORDER BY pos),
           '') AS text_dedup
       FROM m GROUP BY doc_id ORDER BY doc_id"""
  }

  /** t107 mirror: same synthetic segment structure (g = within-source
    * doc index), same per-(source, segment) document-frequency rule —
    * every copy of a segment in > 30% (and >= 2 docs) of its source
    * dies, survivors reassemble in position order. */
  private val BOILERPLATE_SQL: String = {
    val pool = ParagraphPool.map(p => s"'$p'").mkString("[", ", ", "]")
    val sep = "chr(10) || chr(10)"
    s"""WITH src AS (SELECT doc_id, source,
           CAST((doc_id - doc_id % 20) / 20 AS BIGINT) AS g FROM documents),
       src2 AS (SELECT doc_id, source,
           'nav menu for ' || source || $sep ||
           ($pool)[CAST(g % 6 AS INT) + 1] || $sep ||
           'promo banner ' || CAST(g % 2 AS VARCHAR) || $sep ||
           'doc ' || doc_id || ' unique notes' AS ptext
         FROM src),
       d AS (SELECT doc_id, source, string_split(ptext, $sep) AS l FROM src2),
       p0 AS (SELECT doc_id, source, CAST(unnest(range(len(l))) AS BIGINT)
                AS pos, l FROM d),
       p AS (SELECT doc_id, source, pos,
               trim(l[CAST(pos AS INT) + 1]) AS par
             FROM p0 WHERE trim(l[CAST(pos AS INT) + 1]) <> ''),
       gd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS gdocs
              FROM src GROUP BY source),
       f AS (SELECT source, par, CAST(COUNT(*) AS BIGINT) AS dfreq
             FROM (SELECT DISTINCT source, par, doc_id FROM p)
             GROUP BY source, par),
       hot AS (SELECT f.source, f.par FROM f JOIN gd ON f.source = gd.source
               WHERE f.dfreq >= 2 AND f.dfreq > 0.3 * gd.gdocs),
       m AS (SELECT p.doc_id, p.source, p.pos, p.par,
               hot.par IS NULL AS kept
             FROM p LEFT JOIN hot
               ON p.source = hot.source AND p.par = hot.par)
       SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_seg,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         COALESCE(string_agg(CASE WHEN kept THEN par END, $sep ORDER BY pos),
           '') AS clean_text
       FROM m GROUP BY doc_id, source ORDER BY doc_id"""
  }

  /** t108 mirror: the same integer-cumulative water-filling chain —
    * micro-unit weights, 6-dp HALF_UP divisions, prefix sums ordered
    * by (ratio, source) — so the saturation marks and allocations are
    * bit-identical. */
  private val MIXTURE_ALLOCATE_SQL: String =
    s"""WITH tk AS (SELECT source,
           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS n FROM documents),
       s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS avail_tokens,
           ROUND(CAST((CAST(substr(source, 4, 10) AS INT) % 4) + 1
             AS DOUBLE), 6) AS weight
         FROM tk GROUP BY source),
       m AS (SELECT *, CAST(ROUND(weight * 1000000.0, 0) AS BIGINT)
             AS wmicro,
           ROUND(CAST(avail_tokens AS DOUBLE) / weight, 6) AS ratio
         FROM s WHERE weight > 0),
       c AS (SELECT *,
           COALESCE(SUM(avail_tokens) OVER (ORDER BY ratio, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cavail,
           COALESCE(SUM(wmicro) OVER (ORDER BY ratio, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cw,
           SUM(wmicro) OVER () AS wtot
         FROM m),
       sat AS (SELECT *, ratio <= ROUND((15000.0 - CAST(cavail AS DOUBLE))
             / (CAST(wtot - cw AS DOUBLE) / 1000000.0), 6) AS saturated
         FROM c),
       lvl AS (SELECT *,
           COALESCE(SUM(CASE WHEN saturated THEN avail_tokens END)
             OVER (), 0) AS sata,
           COALESCE(SUM(CASE WHEN saturated THEN wmicro END) OVER (), 0)
             AS satw
         FROM sat),
       fin AS (SELECT *, CASE WHEN wtot > satw THEN
             ROUND((15000.0 - CAST(sata AS DOUBLE))
               / (CAST(wtot - satw AS DOUBLE) / 1000000.0), 6)
             ELSE 0.0 END AS lambda
         FROM lvl),
       a AS (SELECT source, avail_tokens, weight, saturated,
           CASE WHEN saturated THEN avail_tokens
             ELSE LEAST(avail_tokens, GREATEST(0,
               CAST(ROUND(weight * lambda, 0) AS BIGINT))) END
             AS alloc_tokens
         FROM fin)
       SELECT source, avail_tokens, weight, saturated, alloc_tokens,
         CASE WHEN avail_tokens > 0 THEN ROUND(CAST(alloc_tokens AS DOUBLE)
           / CAST(avail_tokens AS DOUBLE), 6) ELSE 0.0 END AS rate
       FROM a ORDER BY source"""

  /** t66 mirror: same synthetic PII text, then the SAME
    * count-then-replace cascade as [[graft.text.PiiOps.redactPii]],
    * generated from PiiOps.Stages so the two engines share one
    * pattern source. */
  private val PII_REDACT_SQL: String = {
    val stages = graft.text.PiiOps.Stages
    val cascade = stages.zipWithIndex.map { case ((name, pat, rep), i) =>
      s"""s${i + 1} AS (SELECT doc_id,
           ${(0 until i).map(j => s"n_${stages(j)._1}").map(n => s"$n,")
             .mkString(" ")}
           CAST(len(regexp_extract_all(t$i, '$pat')) AS BIGINT) AS n_$name,
           regexp_replace(t$i, '$pat', '$rep', 'g') AS t${i + 1}
         FROM s$i)"""
    }.mkString(",\n       ")
    val names = stages.map(s => s"n_${s._1}")
    s"""WITH src AS (SELECT doc_id,
           'Contact user' || doc_id || '@Example.com ' ||
           CASE WHEN doc_id % 3 = 0 THEN
             'or +14155550' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') || ' '
             ELSE '' END ||
           CASE WHEN doc_id % 4 = 0 THEN
             'ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
             ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN
             'card 411111111111' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
             ELSE '' END ||
           'ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 done' AS ptext
         FROM documents),
       s0 AS (SELECT doc_id, ptext AS t0 FROM src),
       $cascade
       SELECT doc_id, ${names.mkString(", ")},
         ${names.mkString(" + ")} AS n_pii,
         t${stages.length} AS text_redacted
       FROM s${stages.length} ORDER BY doc_id"""
  }

  /** t67 mirror: the full IVFADC pipeline — 4-dp cosine cell
    * assignment (t11's rule), residual lists (elementwise v - cv, the
    * SAME materialize-then-dot association as Spark's zip_with +
    * Dot kernel), id-prefix residual codebook, 6-dp squared-L2
    * encode (PQ_SQL's rule with cell carried), per-(query, probed
    * cell) residual LUT, summed ADC distances, top-5. */
  private def resList(a: String, b: String) =
    s"list_transform(range(64), i -> $a[CAST(i AS INT)+1] - $b[CAST(i AS INT)+1])"
  private def cosSql(a: String, b: String) =
    s"""list_dot_product($a, $b) /
       (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"""

  /** Shared CTE chain for the URL-hygiene mirrors (t62 cap, t87
    * blocklist): the synthetic url rule (`u` — SQL twin of
    * [[syntheticUrlExpr]]), the canonicalization regex cascade
    * (`c`/`h`/`k`/`cn` — the same RE2-portable patterns UrlOps
    * applies), and the FULL public-suffix-list registrable-domain
    * derivation (`psl*`/`hy`/`cand`/`pslen`/`dm`) over the SAME
    * bundled data file [[graft.text.Psl]] reads. */
  /** t22's full curation-chain mirror, extracted so composed
    * mirrors (t121 rates) can re-root on the surviving ids. */
  private lazy val curateCorpusSql: String = {

      val toksD = TOKS_SQL.replace("FROM documents", "FROM docs")
      val mhD = MH_SQL.replace("FROM documents", "FROM docs")
      val (rs, pred) = langIdSqlParts
      s"""WITH RECURSIVE docs AS (
           SELECT d.doc_id, d.text FROM documents d
           WHERE d.doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))),
         mh AS ($mhD),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2 * b} || ':' || h${2 * b + 1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "cand")},
         sh AS (SELECT DISTINCT doc_id, sh FROM (
           SELECT doc_id, list_extract(w, i) || ' ' || list_extract(w, i+1) || ' ' ||
                  list_extract(w, i+2) AS sh
           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
                 FROM ($toksD)))),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (SELECT p.a_id, p.b_id, COUNT(*) AS n_inter
           FROM cand p
           JOIN sh sa ON sa.doc_id = p.a_id
           JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
           GROUP BY 1, 2),
         verified AS (SELECT p.a_id, p.b_id FROM cand p
           JOIN sizes na ON na.doc_id = p.a_id
           JOIN sizes nb ON nb.doc_id = p.b_id
           LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
           WHERE CASE WHEN na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0) > 0
             THEN COALESCE(i.n_inter, 0)::DOUBLE /
               (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0))
             ELSE 0.0 END >= 0.5),
         edges AS (SELECT a_id, b_id FROM verified
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM verified),
         nodes AS (SELECT DISTINCT a_id AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id AS r FROM nodes
           UNION
           SELECT e.a_id AS id, reach.r FROM edges e
           JOIN reach ON reach.id = e.b_id),
         cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         tq AS ($toksD),
         wf AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS mx
           FROM (SELECT doc_id, t, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest(w) AS t FROM tq) GROUP BY 1, 2)
           GROUP BY 1),
         lang AS (SELECT doc_id, $pred AS lang_pred
           FROM (SELECT doc_id, $rs FROM tq))
         SELECT d.doc_id, d.text FROM docs d
         JOIN wf ON wf.doc_id = d.doc_id
         JOIN lang ON lang.doc_id = d.doc_id
         WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE cluster <> id)
           AND lang.lang_pred = 'en'
           AND wf.n BETWEEN 20 AND 80
           AND ROUND(CAST(wf.mx AS DOUBLE) / wf.n, 6) <= 0.12
         ORDER BY d.doc_id"""
  }

  /** (exact, wildcard, exception) rule counts of the bundled PSL file,
    * parsed at SQL-generation time with EXACTLY the framing rule the
    * `psl` CTE applies (split on LF; strip spaces, tabs and CR; drop
    * blanks and `//` comments) — the expected values of the fail-loud
    * `psl_canary`. Java's `String.trim` strips every char <= U+0020,
    * a superset of the CTE's `trim(x, ' '||chr(9)||chr(13))` that is
    * identical on this file (no other control chars present). */
  private lazy val pslOracleCounts: (Int, Int, Int) = {
    val rules = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(graft.text.UrlOps.PslSourcePath)),
      java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').iterator.map(_.trim)
      .filter(r => r.nonEmpty && !r.startsWith("//")).toSeq
    val wild = rules.count(_.startsWith("*."))
    val exc = rules.count(_.startsWith("!"))
    (rules.size - wild - exc, wild, exc)
  }

  private lazy val URL_DM_CTES: String = {
    val track = graft.text.UrlOps.TrackingParamPattern
    s"""u AS (SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
             (['WWW.Example.COM','news.Site.co.uk','a.b.Example.org',
               'Sub.Domain.example.com','cdn.media.ac.uk'])[CAST(doc_id % 5 AS INT) + 1] ||
             (CASE WHEN doc_id % 3 = 0 THEN
                     (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
                   WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
             '/p/' || CAST(doc_id % 11 AS VARCHAR) ||
             (CASE WHEN doc_id % 4 = 0 THEN
                     '?utm_source=x&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=Y'
                   WHEN doc_id % 4 = 1 THEN
                     '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc'
                   WHEN doc_id % 4 = 2 THEN ''
                   ELSE '?a=1&b=2' END) ||
             (CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END) AS url
           FROM documents),
         c AS (SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               '^.*@', '') AS hostport,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
             regexp_extract(url, '\\?([^#]*)', 1) AS q
           FROM u),
         h AS (SELECT *,
             CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
                  WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
                  ELSE hostport END AS host FROM c),
         k AS (SELECT *, array_to_string(list_filter(string_split(q, '&'),
                 p -> NOT regexp_matches(p, '$track')), '&') AS kq
               FROM h),
         cn AS (SELECT doc_id, host,
             CASE WHEN scheme = '' OR host = '' THEN NULL
                  ELSE scheme || '://' || host ||
                       (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
                       (CASE WHEN kq = '' THEN '' ELSE '?' || kq END) END AS url_canon
           FROM k),
         psl AS MATERIALIZED (SELECT rule FROM (
             SELECT trim(x, ' ' || chr(9) || chr(13)) AS rule
             FROM (SELECT unnest(string_split(content, chr(10))) AS x
                   FROM read_text('${graft.text.UrlOps.PslSourcePath}')))
           WHERE rule <> '' AND rule NOT LIKE '//%'),
         psl_ex AS MATERIALIZED (SELECT rule FROM psl
           WHERE rule NOT LIKE '*.%' AND rule NOT LIKE '!%'),
         psl_w AS MATERIALIZED (SELECT substr(rule, 3) AS base FROM psl
           WHERE rule LIKE '*.%'),
         psl_x AS MATERIALIZED (SELECT substr(rule, 2) AS rule FROM psl
           WHERE rule LIKE '!%'),
         -- fail-loud ingest canary (r11: a drifted read_text silently
         -- matched zero rules and DEGRADED t62/t87 to wrong-but-
         -- plausible rows). The expected counts are parsed from the
         -- SAME file at SQL-generation time with the SAME framing
         -- rule, so any byte-level divergence between what this SQL
         -- reads and what the generator read turns the whole mirror
         -- into an ERROR instead. dm consumes `ok` in its WHERE so
         -- the check can never be pruned.
         psl_canary AS (SELECT CASE WHEN
               (SELECT count(*) FROM psl_ex) = ${pslOracleCounts._1}
               AND (SELECT count(*) FROM psl_w) = ${pslOracleCounts._2}
               AND (SELECT count(*) FROM psl_x) = ${pslOracleCounts._3}
               AND (SELECT count(*) FROM psl_ex WHERE rule = 'co.uk') = 1
             THEN 1 ELSE error('PSL oracle ingest drifted: rule counts '
               || (SELECT count(*) FROM psl_ex) || '/'
               || (SELECT count(*) FROM psl_w) || '/'
               || (SELECT count(*) FROM psl_x)
               || ' do not match the generated-time parse '
               || '${pslOracleCounts._1}/${pslOracleCounts._2}/${pslOracleCounts._3}'
               || ' of ${graft.text.UrlOps.PslSourcePath}') END AS ok),
         hy AS (SELECT doc_id, url_canon, hnp, string_split(hnp, '.') AS y
           FROM (SELECT doc_id, url_canon,
                regexp_replace(host, ':[0-9]+$$', '') AS hnp FROM cn)),
         -- candidate suffixes: last i labels, i = 1..min(len, deepest rule
         -- depth, interpolated from Psl.maxRuleLabels so Spark and the
         -- oracle share one file-derived bound)
         cand AS (SELECT doc_id, i,
             array_to_string(list_slice(y, len(y) - i + 1, len(y)), '.') AS sfx,
             array_to_string(list_slice(y, len(y) - i + 2, len(y)), '.') AS base
           FROM hy, unnest(generate_series(1, LEAST(len(y), ${graft.text.Psl.maxRuleLabels}))) AS g(i)
           WHERE url_canon IS NOT NULL),
         -- PSL precedence: an exception rule prevails (public suffix =
         -- rule minus leftmost label); else deepest match; default rule 1
         pslen AS (SELECT doc_id,
             COALESCE(MAX(CASE WHEN sfx IN (SELECT rule FROM psl_x)
                               THEN i - 1 END),
               GREATEST(COALESCE(MAX(CASE
                 WHEN sfx IN (SELECT rule FROM psl_ex) THEN i
                 WHEN i >= 2 AND base IN (SELECT base FROM psl_w) THEN i
                 END), 1), 1)) AS ps
           FROM cand GROUP BY doc_id),
         dm AS (SELECT hy.doc_id, url_canon,
             CASE WHEN url_canon IS NULL OR len(y) <= ps THEN NULL
                  ELSE array_to_string(
                    list_slice(y, len(y) - ps, len(y)), '.') END AS domain
           FROM hy LEFT JOIN pslen ON hy.doc_id = pslen.doc_id
           WHERE (SELECT ok FROM psl_canary) = 1)"""
  }

  /** Shared CTE block for t67/t69: 4-dp cosine IVF assignment against
    * the vec_id<4 centroids (t11's rule) + residual lists (the SAME
    * materialize-then-dot association as Spark's zip_with + Dot
    * kernel). */
  private lazy val IVF_RES_CTES: String =
    s"""d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 4),
       sc AS (SELECT d.vec_id, d.v, cell, cv,
               ROUND(${cosSql("v", "cv")}, 4) AS sim
              FROM d, cent),
       idx AS (SELECT vec_id, v, cell, cv FROM (
               SELECT vec_id, v, cell, cv,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, cell) AS rn
               FROM sc) WHERE rn = 1),
       res AS (SELECT vec_id, cell, ${resList("v", "cv")} AS r FROM idx)"""

  /** CTE chain of the IVFADC pipeline up to `r2` (per-query ADC rank
    * over probed-cell candidates) — shared by t67 (top-5 ADC hits)
    * and t84 (ADC shortlist re-ranked by exact cosine). */
  private lazy val IVFPQ_CTES: String = {
    def d2(a: String, b: String) =
      s"""ROUND(list_dot_product($a, $a) - 2.0*list_dot_product($a, $b)
         + list_dot_product($b, $b), 6) + 0.0"""
    val cos = cosSql _
    s"""$IVF_RES_CTES,
       ss AS (SELECT unnest([0,1,2,3]) AS sub_idx),
       rsub AS (SELECT vec_id, cell, sub_idx,
                 list_slice(r, sub_idx*16+1, sub_idx*16+16) AS sv
                FROM res, ss),
       cb AS (SELECT CAST(vec_id AS BIGINT) AS code_id, sub_idx, sv AS cv2
              FROM rsub WHERE vec_id < 16),
       encs AS (SELECT rsub.vec_id, rsub.cell, rsub.sub_idx, code_id,
                 ${d2("sv", "cv2")} AS d2
                FROM rsub JOIN cb USING (sub_idx)),
       best AS (SELECT vec_id, cell, sub_idx, code_id,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub_idx
                   ORDER BY d2, code_id) AS rn
                FROM encs),
       enc AS (SELECT vec_id, cell, list(code_id ORDER BY sub_idx) AS codes
               FROM best WHERE rn = 1 GROUP BY vec_id, cell),
       q AS (SELECT vec_id AS query_id, v AS qv FROM d
             WHERE vec_id >= 4 AND vec_id < 7),
       qsc AS (SELECT query_id, qv, cell, cv, ${cos("qv", "cv")} AS sim
               FROM q, cent),
       probed AS (SELECT query_id, cell, ${resList("qv", "cv")} AS qr
                  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, cell) AS rn
                        FROM qsc) WHERE rn <= 2),
       psub AS (SELECT query_id, cell, sub_idx,
                 list_slice(qr, sub_idx*16+1, sub_idx*16+16) AS qsv
                FROM probed, ss),
       lut AS (SELECT query_id, psub.cell, psub.sub_idx, code_id,
                ${d2("qsv", "cv2")} AS d2
               FROM psub JOIN cb USING (sub_idx)),
       ex AS (SELECT vec_id AS cand_id, cell, unnest(codes) AS code_id,
               unnest(range(4)) AS sub_idx FROM enc),
       ad AS (SELECT query_id, cand_id, ROUND(SUM(d2), 6) + 0.0 AS adist
              FROM ex JOIN lut USING (cell, sub_idx, code_id)
              WHERE cand_id <> query_id GROUP BY 1, 2),
       r2 AS (SELECT query_id, cand_id, adist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adist, cand_id) AS rn FROM ad)"""
  }

  private lazy val IVFPQ_SQL: String =
    s"""WITH $IVFPQ_CTES
       SELECT query_id, cand_id, adist FROM r2 WHERE rn <= 5
       ORDER BY query_id, cand_id"""

  /** t84 mirror: ADC shortlist (rn <= 8 from the t67 chain) joined
    * back to the RAW vectors and re-scored with the exact 4-dp cosine
    * (t07's rule), top-3 by (score DESC, cand_id). */
  private lazy val RERANK_SQL: String =
    s"""WITH $IVFPQ_CTES,
       short AS (SELECT query_id, cand_id FROM r2 WHERE rn <= 8),
       rr AS (SELECT s.query_id, s.cand_id,
               ROUND(${cosSql("q.qv", "cd.v")}, 4) AS score
              FROM short s
              JOIN q ON s.query_id = q.query_id
              JOIN d cd ON s.cand_id = cd.vec_id),
       rk AS (SELECT query_id, cand_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, cand_id) AS rn FROM rr)
       SELECT query_id, cand_id, score FROM rk WHERE rn <= 3
       ORDER BY query_id, cand_id"""

  /** Shared construction-rule recompute for the synthetic-video frame
    * oracles (t43 AVI, t60 MP4, t64 MKV): all three builders use the
    * SAME geometry rule (w = 8 + len%9, h = 6 + id%7, nf = 1 + id%3)
    * and pixel rule r = g = b = (x*31 + y*17 + f*29) & 0xff, so one
    * codec-free per-frame mean-gray recompute covers every container. */
  private val FRAME_RULE_SQL: String =
    """WITH dims AS (SELECT doc_id, 8 + length(text) % 9 AS w,
           6 + doc_id % 7 AS h, 1 + doc_id % 3 AS nf FROM documents),
       fr AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM dims),
       fx AS (SELECT doc_id, w, h, f, unnest(range(w)) AS x FROM fr),
       fxy AS (SELECT doc_id, w, h, f, x, unnest(range(h)) AS y FROM fx),
       g AS (SELECT doc_id, f, w, h,
              0.299*v + 0.587*v + 0.114*v AS gr
             FROM (SELECT *, CAST((x*31 + y*17 + f*29) % 256 AS DOUBLE) AS v
                   FROM fxy))
       SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
         CAST(w AS INTEGER) AS f_width, CAST(h AS INTEGER) AS f_height,
         ROUND(AVG(gr), 6) + 0.0 AS mean_gray
       FROM g GROUP BY doc_id, f, w, h ORDER BY media_id, frame_idx"""

  /** t94 mirror: the full crawl-to-training-shards chain in one
    * statement. Stage fragments are the SAME strings the per-stage
    * mirrors use (TOKS/SHINGLES/MH over the crawl-derived `docs`, the
    * HtmlOps/NormalizeOps cascades interpolated from their Stages
    * tables), so the composed oracle can't drift from the per-stage
    * ones. CTE naming: the curation pass owns mh/buckets/cand/../cc
    * (t22's names); the split pass suffixes 2 (mh2/../cc2) because the
    * leak-safe clustering runs on the BUDGET SURVIVORS, a different
    * minhash population than the curation pass. */
  private lazy val crawlPipelineSql: String =
    crawlPipelineSqlImpl(plantPii = false)
  private lazy val crawlPipelinePiiSql: String =
    crawlPipelineSqlImpl(plantPii = true)

  /** t94 / t106 mirror builder. With `plantPii` the h0 CTE appends the
    * same PII suffix the t106 Spark query plants (every 5th doc), and a
    * scrub cascade (t25's exact patterns) rewrites the CURATED
    * survivors' text before everything token-counting — mirroring
    * Pipeline.corpusToShards(scrubPii = true)'s scrub-late order:
    * curation gates still read raw text, decontamination shingles /
    * budget tokens / packing / split signatures read masked text. */
  private def crawlPipelineSqlImpl(plantPii: Boolean): String = {
    def sq(s: String) = s.replace("'", "''")
    def cascade(stages: Seq[(String, String, String)],
        prefix: String): String =
      stages.zipWithIndex.map { case ((_, pat, rep), i) =>
        s"""$prefix${i + 1} AS (SELECT doc_id,
             regexp_replace(t, '${sq(pat)}', '${sq(rep)}', 'g') AS t
           FROM $prefix$i)"""
      }.mkString(",\n       ")
    def bands(mhName: String): String =
      (0 until 4).map(b =>
        s"SELECT doc_id, md5('b$b:' || h${2 * b} || ':' || h${2 * b + 1}) AS bucket FROM $mhName")
        .mkString(" UNION ALL ")
    val hs = graft.text.HtmlOps.Stages
    val ns = graft.text.NormalizeOps.Stages
    val toksD = TOKS_SQL.replace("FROM documents", "FROM docs")
    val mhD = MH_SQL.replace("FROM documents", "FROM docs")
    val (rs, pred) = langIdSqlParts
    val denom16 = math.pow(16.0, 15)
    val denom2 = math.pow(2.0, 60)
    val plant = if (!plantPii) "" else
      """ || CASE WHEN doc_id % 5 = 0 THEN ' contact bob' ||
         CAST(doc_id AS VARCHAR) ||
         '@mail.example.com or 10.0.0.1 ref 123456789012'
         ELSE '' END"""
    // the pii variant (t106) runs corpusToShards on the QUARTER corpus
    // with NO crawl-ingest prefix — the planted raw text IS the corpus
    // (matching the Spark query's reduced shape; t94 carries the full
    // crawl chain) — while t94 wraps every doc in html and re-derives
    // the extract+normalize cascades
    val ingest = if (plantPii)
      s"""crawl AS MATERIALIZED (SELECT doc_id, text$plant AS text
         FROM documents WHERE doc_id % 4 = 0),"""
    else
      s"""h0 AS (SELECT doc_id,
           '<html><body>' || text || '</body></html>' AS t FROM documents),
         ${cascade(hs, "h")},
         n0 AS (SELECT doc_id, trim(t) AS t FROM h${hs.length}),
         ${cascade(ns, "n")},
         crawl AS MATERIALIZED (SELECT doc_id, trim(t) AS text
           FROM n${ns.length}),"""
    // scrub-late: the curated survivors' text is masked (t25's exact
    // patterns) and every downstream token consumer reads the masked
    // frames (tq2/mhs) instead of the raw ones (tq/mh)
    val tqx = if (plantPii) "tq2" else "tq"
    val mhx = if (plantPii) "mhs" else "mh"
    val scrub = if (!plantPii) "" else {
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ip = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
      val digits = """\b[0-9]{9,}\b"""
      s"""scr AS MATERIALIZED (SELECT c.doc_id,
           regexp_replace(regexp_replace(regexp_replace(c.text,
             '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
             '$digits', '<NUM>', 'g') AS text
         FROM crawl c WHERE c.doc_id IN (SELECT doc_id FROM cur)),
       tq2 AS MATERIALIZED (${TOKS_SQL.replace("FROM documents", "FROM scr")}),
       mhs AS MATERIALIZED (${MH_SQL.replace("FROM documents", "FROM scr")}),
       """
    }
    s"""WITH RECURSIVE $ingest
       docs AS MATERIALIZED (SELECT c.doc_id, c.text FROM crawl c
         WHERE c.doc_id IN (SELECT MIN(doc_id) FROM crawl GROUP BY md5(text))),
       mh AS MATERIALIZED ($mhD),
       buckets AS (${bands("mh")}),
       ${candPairsCtes("buckets", "cand")},
       sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (
         SELECT doc_id, list_extract(w, i) || ' ' || list_extract(w, i+1) || ' ' ||
                list_extract(w, i+2) AS sh
         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
               FROM ($toksD)))),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       inter AS (SELECT p.a_id, p.b_id, COUNT(*) AS n_inter
         FROM cand p
         JOIN sh sa ON sa.doc_id = p.a_id
         JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
         GROUP BY 1, 2),
       verified AS (SELECT p.a_id, p.b_id FROM cand p
         JOIN sizes na ON na.doc_id = p.a_id
         JOIN sizes nb ON nb.doc_id = p.b_id
         LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         WHERE CASE WHEN na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0) > 0
           THEN COALESCE(i.n_inter, 0)::DOUBLE /
             (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0))
           ELSE 0.0 END >= 0.5),
       edges AS (SELECT a_id, b_id FROM verified
         UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM verified),
       nodes AS (SELECT DISTINCT a_id AS id FROM edges),
       reach(id, r) AS (
         SELECT id, id AS r FROM nodes
         UNION
         SELECT e.a_id AS id, reach.r FROM edges e
         JOIN reach ON reach.id = e.b_id),
       cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       tq AS MATERIALIZED ($toksD),
       wf AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS mx
         FROM (SELECT doc_id, t, COUNT(*) AS c
               FROM (SELECT doc_id, unnest(w) AS t FROM tq) GROUP BY 1, 2)
         GROUP BY 1),
       lang AS (SELECT doc_id, $pred AS lang_pred
         FROM (SELECT doc_id, $rs FROM tq)),
       cur AS MATERIALIZED (SELECT d.doc_id FROM docs d
         JOIN wf ON wf.doc_id = d.doc_id
         JOIN lang ON lang.doc_id = d.doc_id
         WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE cluster <> id)
           AND lang.lang_pred = 'en'
           AND wf.n BETWEEN 20 AND 80
           AND ROUND(CAST(wf.mx AS DOUBLE) / wf.n, 6) <= 0.12),
       ${scrub}bsh AS (SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS sh
         FROM (SELECT doc_id, w FROM ($TOKS_SQL) WHERE doc_id % 17 = 0),
           UNNEST(generate_series(1, len(w) - 12)) AS u(i)),
       cursh AS (SELECT DISTINCT doc_id,
           array_to_string(w[i:i+12], ' ') AS sh
         FROM $tqx, UNNEST(generate_series(1, len(w) - 12)) AS u(i)
         WHERE doc_id IN (SELECT doc_id FROM cur)),
       contam AS (SELECT DISTINCT doc_id FROM cursh
         JOIN bsh USING (sh)),
       clean AS (SELECT cur.doc_id, d.source
         FROM cur JOIN documents d USING (doc_id)
         WHERE cur.doc_id NOT IN (SELECT doc_id FROM contam)),
       ctk AS (SELECT c.doc_id, c.source,
           CAST(len(t.w) AS BIGINT) AS n_tokens
         FROM clean c JOIN $tqx t USING (doc_id)),
       hh AS (SELECT *,
           ('0x' || substr(md5('tb:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS uu
         FROM ctk),
       tot AS (SELECT source, SUM(n_tokens) AS tot FROM hh GROUP BY 1),
       fb AS (SELECT hh.source, doc_id, n_tokens, uu
         FROM hh JOIN tot USING (source)
         WHERE uu::DOUBLE / ($denom2::DOUBLE)
           < LEAST(1.0::DOUBLE, (8.0::DOUBLE * 600.0::DOUBLE) / tot)),
       cum AS (SELECT source, doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
             ORDER BY uu, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cum_before
         FROM fb),
       kept AS MATERIALIZED (SELECT source, doc_id, n_tokens FROM cum
         WHERE cum_before < 600),
       packed AS (SELECT doc_id, source, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source
             ORDER BY doc_id) - n_tokens) / 512.0::DOUBLE) AS BIGINT) AS bin
         FROM kept),
       mh2 AS (SELECT * FROM $mhx
         WHERE doc_id IN (SELECT doc_id FROM kept)),
       buckets2 AS (${bands("mh2")}),
       ${candPairsCtes("buckets2", "pairs2")},
       edges2 AS (SELECT a_id, b_id FROM pairs2
         UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM pairs2),
       nodes2 AS (SELECT DISTINCT a_id AS id FROM edges2),
       reach2(id, r) AS (
         SELECT id, id AS r FROM nodes2
         UNION
         SELECT e.a_id AS id, reach2.r FROM edges2 e
         JOIN reach2 ON reach2.id = e.b_id),
       cc2 AS (SELECT id, MIN(r) AS cluster FROM reach2 GROUP BY id),
       spl AS (SELECT k.doc_id,
           CASE WHEN ('0x' || substr(md5('split:' ||
                 CAST(COALESCE(cc2.cluster, k.doc_id) AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
               / ($denom16::DOUBLE) < 0.2
             THEN 'test' ELSE 'train' END AS split
         FROM kept k LEFT JOIN cc2 ON cc2.id = k.doc_id)
       SELECT p.doc_id, p.source, p.n_tokens, p.bin, s.split
       FROM packed p JOIN spl s USING (doc_id)
       ORDER BY p.doc_id"""
  }

  /** Per-source 3-shingle chain shared by the cross-source sketch
    * mirrors (t103/t104/t105). */
  private val SRC_SHINGLE_CTES =
    """stk AS (SELECT source, list_filter(string_split_regex(lower(text),
           '[^a-z0-9]+'), x -> x <> '') AS w FROM documents),
       ssh AS (SELECT source, list_extract(w, i) || ' ' || list_extract(w, i+1)
           || ' ' || list_extract(w, i+2) AS sh
         FROM (SELECT source, w, unnest(generate_series(1, len(w)-2)) AS i
               FROM stk))"""

  /** Shared KMV sketch chain (t103/t104): distinct "kmv:"-salted
    * 60-bit 3-shingle hashes per source, the 256 smallest kept. */
  private val KMV_CTES =
    s"""$SRC_SHINGLE_CTES,
       hs AS (SELECT DISTINCT source,
           ('0x' || substr(md5('kmv:' || sh), 1, 15))::BIGINT AS h FROM ssh),
       sk AS (SELECT source, h FROM (
           SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
           FROM hs) WHERE rk <= 256)"""

  val oracle: Map[String, String] = Map(
    // t14's recursive CC chain, but the cluster survivor is the
    // max-token member (ties: min id); singletons survive untouched
    "t100_near_dedup_best" ->
      s"""WITH RECURSIVE mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2*b} || ':' || h${2*b+1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "pairs")},
         edges AS (SELECT a_id, b_id FROM pairs
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         nodes AS (SELECT DISTINCT a_id AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id AS r FROM nodes
           UNION
           SELECT e.a_id AS id, reach.r FROM edges e
           JOIN reach ON reach.id = e.b_id),
         cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         tk AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
           FROM ($TOKS_SQL)),
         losers AS (SELECT id FROM (
           SELECT cc.id, ROW_NUMBER() OVER (PARTITION BY cc.cluster
             ORDER BY tk.n_tokens DESC, cc.id) AS rk
           FROM cc JOIN tk ON tk.doc_id = cc.id) WHERE rk > 1)
         SELECT d.doc_id, tk.n_tokens FROM documents d
         JOIN tk ON tk.doc_id = d.doc_id
         WHERE d.doc_id NOT IN (SELECT id FROM losers)
         ORDER BY d.doc_id""",
    // planted case/punct variants per group-of-3, collapsed under the
    // casefold + non-alnum-collapse + trim md5 key
    "t101_normalized_dedup" ->
      """WITH L AS (SELECT doc_id AS gid, substr(text, 1, 80) AS base
           FROM documents),
         v AS (SELECT d.doc_id,
             CASE WHEN d.doc_id % 3 = 0 THEN l.base
               WHEN d.doc_id % 3 = 1 THEN upper(l.base) || '!!'
               ELSE '  ' || l.base || ' ..' END AS vtext
           FROM documents d JOIN L l ON l.gid = d.doc_id - d.doc_id % 3)
         SELECT md5(trim(regexp_replace(lower(vtext), '[^a-z0-9]+', ' ', 'g')))
             AS content_key,
           CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS canonical_id
         FROM v GROUP BY 1 ORDER BY content_key""",
    // Efraimidis–Spirakis mirror: same salted uniform, same micro-unit
    // key rounding, same (key desc, id) ranking
    "t102_weighted_sample" -> {
      val denom = math.pow(16.0, 15)
      s"""WITH tk AS (SELECT doc_id, source,
           CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS DOUBLE) AS weight
           FROM documents),
         k AS (SELECT doc_id, source, weight,
           CAST(ROUND(power(
             ('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
               / $denom, 1.0 / weight) * 1000000.0, 0) AS BIGINT) AS key_micro
           FROM tk WHERE weight > 0),
         r AS (SELECT doc_id, source, weight, key_micro,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY key_micro DESC, doc_id) AS INTEGER) AS rk FROM k)
         SELECT doc_id, source, weight, key_micro, rk FROM r
         WHERE rk <= 20 ORDER BY source, rk"""
    },
    // KMV pair overlap: k smallest of each pair's sketch union, the
    // both-sides fraction is the Jaccard estimate
    "t103_kmv_overlap" ->
      s"""WITH $KMV_CTES,
         srcs AS (SELECT DISTINCT source FROM sk),
         pr AS (SELECT a.source AS source_a, b.source AS source_b
           FROM srcs a JOIN srcs b ON a.source < b.source),
         sides AS (
           SELECT p.source_a, p.source_b, s.h, 'a' AS side
           FROM pr p JOIN sk s ON s.source = p.source_a
           UNION ALL
           SELECT p.source_a, p.source_b, s.h, 'b' AS side
           FROM pr p JOIN sk s ON s.source = p.source_b),
         m AS (SELECT source_a, source_b, h, COUNT(DISTINCT side) AS ns
           FROM sides GROUP BY 1, 2, 3),
         u AS (SELECT source_a, source_b, ns FROM (
           SELECT source_a, source_b, ns,
             ROW_NUMBER() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rk
           FROM m) WHERE rk <= 256)
         SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS union_k,
           CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           ROUND(CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS jaccard_est
         FROM u GROUP BY 1, 2 ORDER BY source_a, source_b""",
    // one-permutation MinHash registers: per-source per-bucket MIN of
    // the "mhr:"-salted shingle hash (no distinct — min is
    // dup-insensitive), pairwise match fraction over shared buckets
    "t105_source_overlap_registers" ->
      s"""WITH $SRC_SHINGLE_CTES,
         rh AS (SELECT source,
             ('0x' || substr(md5('mhr:' || sh), 1, 15))::BIGINT AS h FROM ssh),
         regs AS (SELECT source, h % 128 AS bucket, MIN(h) AS min_h
           FROM rh GROUP BY 1, 2),
         j AS (SELECT a.source AS source_a, b.source AS source_b,
             CASE WHEN a.min_h = b.min_h THEN 1 ELSE 0 END AS mt
           FROM regs a JOIN regs b
           ON a.bucket = b.bucket AND a.source < b.source)
         SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(mt) AS BIGINT) AS n_match,
           ROUND(CAST(SUM(mt) AS DOUBLE) / COUNT(*), 6) AS jaccard_est
         FROM j GROUP BY 1, 2 ORDER BY source_a, source_b""",
    // frequency-threshold boilerplate removal: per-(source, segment)
    // document frequency, > 30% of the source's docs (and >= 2) kills
    // every copy, survivors reassemble in position order
    "t107_boilerplate_removal" -> BOILERPLATE_SQL,
    // water-filling mixture solver: integer-cumulative prefix sums
    // ordered by (avail/weight, source), 6-dp rounded water levels
    "t108_mixture_allocate" -> MIXTURE_ALLOCATE_SQL,
    // KMV distinct estimate: exact below k, else (k-1) * 2^60 / h_k
    "t104_kmv_distinct" ->
      s"""WITH $KMV_CTES
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
           ROUND(CASE WHEN COUNT(*) < 256 THEN COUNT(*)::DOUBLE
             ELSE 255 * power(2.0, 60) / MAX(h)::DOUBLE END, 4) AS distinct_est
         FROM sk GROUP BY source ORDER BY source""",
    // mirrors Media.syntheticMedia's construction rule (BMP 54-byte
    // header + 4-padded 24bpp rows; WAV 44-byte header + 16-bit mono),
    // while the Spark side PARSES the binary headers — a round trip
    "t10_media_decode" ->
      """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         CAST(CASE WHEN doc_id % 2 = 0
           THEN 54 + ((((16 + length(text) % 97) * 3 + 3) // 4) * 4) * (16 + doc_id % 61)
           ELSE 44 + (800 + length(text) % 8000) * 2 END AS BIGINT) AS n_bytes,
         CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + length(text) % 97 ELSE 0 END AS INTEGER) AS width,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 61 ELSE 0 END AS INTEGER) AS height,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 0
           ELSE ((800 + length(text) % 8000) * 1000) // 8000 END AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    // MRL-truncation mirror: 16-dim prefix, list_dot_product norm,
    // micro-unit components, 6-dp norm
    "t59_mrl_truncate" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (SELECT vec_id, list_slice(v, 1, 16) AS s FROM d),
         n AS (SELECT vec_id, s, sqrt(list_dot_product(s, s)) AS nrm FROM s)
         SELECT vec_id,
           array_to_string(list_transform(s, x ->
             CAST(ROUND((CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END)
               * 1000000.0, 0) AS BIGINT)), ',') AS emb_trunc,
           ROUND(nrm, 6) AS norm
         FROM n ORDER BY vec_id""",

    // cell-balanced-sample mirror: the t13 trained-assignment chain,
    // then t39's stratified pick keyed on the cell (same "strat:" salt,
    // 8x oversample prefilter, 20 per cell)
    "t58_cell_balanced_sample" -> {
      val denom = math.pow(2.0, 60)
      s"""WITH $KMEANS_TRAINED_ASSIGN_CTES,
         bh AS (SELECT cell, vec_id,
             ('0x' || substr(md5('strat:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS u
           FROM af),
         bc AS (SELECT cell, COUNT(*) AS cnt FROM af GROUP BY 1),
         bf AS (SELECT bh.cell, vec_id, u FROM bh JOIN bc USING (cell)
           WHERE u::DOUBLE / ($denom::DOUBLE)
             < LEAST(1.0::DOUBLE, 160.0::DOUBLE / cnt)),
         br AS (SELECT cell, vec_id,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY u, vec_id) AS rank
           FROM bf)
         SELECT cell, vec_id, CAST(rank AS BIGINT) AS rank FROM br
         WHERE rank <= 20 ORDER BY cell, rank"""
    },

    // SQ-search mirror: rebuild each vector from its t56 codes, exact
    // queries vs reconstructions by the same 6-dp-rounded L2 identity,
    // row_number top-5 tie-broken on cand_id
    "t57_sq_search" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         st AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
                FROM d CROSS JOIN dims GROUP BY i),
         e AS (SELECT vec_id, i, mn, mx,
                 CASE WHEN mx = mn THEN 0
                   ELSE CAST(ROUND(255.0 * (v[i] - mn) / (mx - mn), 0) AS INT)
                   END AS code
               FROM d CROSS JOIN dims JOIN st USING (i)),
         rv AS (SELECT vec_id,
                  list(mn + code::DOUBLE * (mx - mn) / 255.0 ORDER BY i) AS r
                FROM e GROUP BY vec_id),
         q AS (SELECT vec_id AS query_id, v AS qv FROM d
               WHERE vec_id >= 4 AND vec_id < 7),
         sc AS (SELECT q.query_id, rv.vec_id AS cand_id,
                  ROUND(list_dot_product(qv, qv)
                    - 2.0 * list_dot_product(qv, r)
                    + list_dot_product(r, r), 6) + 0.0 AS adist
                FROM rv CROSS JOIN q WHERE rv.vec_id <> q.query_id),
         rk AS (SELECT query_id, cand_id, adist,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adist, cand_id) AS rn
                FROM sc)
         SELECT query_id, cand_id, adist FROM rk WHERE rn <= 5
         ORDER BY query_id, cand_id""",

    // scalar-quantization mirror: per-dim min/max (exact, no
    // summation), identical 255-scale rounding, nano-unit squared
    // reconstruction errors summed exactly before the 6-dp round
    "t56_scalar_quant" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         st AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
                FROM d CROSS JOIN dims GROUP BY i),
         e AS (SELECT vec_id, i, mn, mx, v[i] AS x,
                 CASE WHEN mx = mn THEN 0
                   ELSE CAST(ROUND(255.0 * (v[i] - mn) / (mx - mn), 0) AS INT)
                   END AS code
               FROM d CROSS JOIN dims JOIN st USING (i)),
         r AS (SELECT vec_id, i, code,
                 CAST(ROUND((x - (mn + code::DOUBLE * (mx - mn) / 255.0))
                   * (x - (mn + code::DOUBLE * (mx - mn) / 255.0))
                   * 1000000000.0, 0) AS BIGINT) AS en
               FROM e)
         SELECT vec_id,
           array_to_string(list(code ORDER BY i), ',') AS codes,
           ROUND(SUM(en)::DOUBLE / 1000000000.0, 6) AS err
         FROM r GROUP BY vec_id ORDER BY vec_id""",

    // audio-windows mirror: regenerates every PCM sample from
    // buildWav's byte rule (data byte i = (i*17 + nSamples) & 0xff,
    // LE int16 pairs from offset 44), windows of 1000, exact integer
    // sum of squares before the 6-dp-rounded sqrt — the engine side
    // reads the same numbers back through the real javax.sound codec
    "t55_audio_windows" ->
      """WITH a AS (SELECT doc_id AS media_id,
             800 + length(text) % 8000 AS ns
           FROM documents WHERE doc_id % 2 = 1),
         s AS (SELECT media_id, ns,
             unnest(generate_series(0, ns - 1)) AS k FROM a),
         v AS (SELECT media_id, CAST(k // 1000 AS INT) AS win_idx,
             CASE WHEN (((45 + 2*k)*17 + ns) % 256) >= 128
               THEN ((((45 + 2*k)*17 + ns) % 256) * 256
                     + (((44 + 2*k)*17 + ns) % 256)) - 65536
               ELSE (((45 + 2*k)*17 + ns) % 256) * 256
                     + (((44 + 2*k)*17 + ns) % 256) END AS smp
           FROM s)
         SELECT media_id, win_idx,
           CAST(COUNT(*) AS INT) AS n_samples,
           ROUND(sqrt(SUM(smp::BIGINT * smp)::DOUBLE / COUNT(*)), 6) AS rms,
           CAST(MAX(ABS(smp)) AS INT) AS peak
         FROM v GROUP BY 1, 2 ORDER BY media_id, win_idx""",

    // mirrors Media.syntheticVideos' construction rule (ftyp 20 +
    // moov(mvhd+trak/tkhd) 216 + mdat 72 = 308 bytes; timescale 1000 so
    // duration round-trips exactly) while the Spark side box-walks the
    // binary it built
    "t29_media_video" ->
      """SELECT doc_id AS media_id, 'video' AS kind,
         CAST(308 AS BIGINT) AS n_bytes, 'mp4' AS format,
         CAST(16 + length(text) % 113 AS INTEGER) AS width,
         CAST(16 + doc_id % 73 AS INTEGER) AS height,
         CAST(500 + (length(text) * 7 + doc_id * 13) % 60000 AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    // mirrors Media.syntheticImages' construction rule; the Spark side
    // decodes the actual PNG/JPEG binaries it built
    "t18_media_image" ->
      """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         CAST(16 + length(text) % 41 AS INTEGER) AS width,
         CAST(12 + doc_id % 29 AS INTEGER) AS height
         FROM documents ORDER BY media_id""",
    // curation mirror: every stage is the same SQL as the single-op
    // oracles (t01/t04/t05/t12/t14/t19/t20), re-rooted at the
    // exact-dedup survivor set
    "t22_curate_corpus" -> curateCorpusSql,
    // curation-rate mirror: the t22 chain's surviving ids, rolled up
    // per source against the full corpus
    "t121_curation_rates" ->
      s"""WITH kept AS (SELECT doc_id FROM ($curateCorpusSql))
         SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN kept.doc_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS keep_rate
         FROM documents d LEFT JOIN kept USING (doc_id)
         GROUP BY d.source ORDER BY d.source""",

    // uniform-hash mixture sampling mirror: same md5-derived u and the
    // same per-source rate CASE as the operator's when-cascade
    "t23_mixture_sample" -> {
      val denom = math.pow(16.0, 15)
      s"""SELECT doc_id, source FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
               / ($denom::DOUBLE)
             < (CASE WHEN source = 'src2' THEN 0.25::DOUBLE
                     WHEN source = 'src1' THEN 0.5::DOUBLE
                     WHEN source = 'src0' THEN 0.9::DOUBLE
                     ELSE 0.1::DOUBLE END)
         ORDER BY doc_id"""
    },

    // upsampling mirror: same u-hash and rate CASE, floor+frac copies
    "t37_mixture_upsample" -> {
      val denom = math.pow(16.0, 15)
      s"""WITH r AS (SELECT doc_id, source,
             (CASE WHEN source = 'src2' THEN 0.5::DOUBLE
                   WHEN source = 'src1' THEN 1.0::DOUBLE
                   WHEN source = 'src0' THEN 2.3::DOUBLE
                   ELSE 0.0::DOUBLE END) AS rate,
             ('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
               / ($denom::DOUBLE) AS u
           FROM documents),
         n AS (SELECT doc_id, source,
             CAST(FLOOR(rate) +
               (CASE WHEN u < rate - FLOOR(rate) THEN 1 ELSE 0 END) AS INT) AS n
           FROM r)
         SELECT doc_id, source, CAST(unnest(range(n)) AS INT) AS copy
         FROM n WHERE n > 0 ORDER BY doc_id, copy"""
    },

    // temperature-resampling mirror: counts -> micro-unit pow(c, 0.5)
    // -> exact-long normalizer -> 6-dp rate, then t37's floor+frac
    // copy rule with the "temp:"-salted u-hash
    "t51_temperature_sample" -> {
      val denom = math.pow(16.0, 15)
      s"""WITH d AS (SELECT doc_id, source FROM documents
             WHERE doc_id < 150 OR doc_id % 10 < 3),
         c AS (SELECT source, COUNT(*) AS c,
                 CAST(ROUND(pow(COUNT(*)::DOUBLE, 0.5) * 1000000.0, 0) AS BIGINT) AS pm
               FROM d GROUP BY 1),
         z AS (SELECT SUM(c) AS tot, SUM(pm) AS z FROM c),
         r AS (SELECT source,
                 ROUND(1.0 * z.tot::DOUBLE * (c.pm::DOUBLE / z.z::DOUBLE)
                   / c.c::DOUBLE, 6) AS rate
               FROM c CROSS JOIN z),
         u AS (SELECT d.doc_id, d.source, r.rate,
                 ('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
                   / ($denom::DOUBLE) AS u
               FROM d JOIN r USING (source)),
         n AS (SELECT doc_id, source,
                 CAST(FLOOR(rate) +
                   (CASE WHEN u < rate - FLOOR(rate) THEN 1 ELSE 0 END) AS INT) AS n
               FROM u)
         SELECT doc_id, source, CAST(unnest(range(n)) AS INT) AS copy
         FROM n WHERE n > 0 ORDER BY doc_id, copy"""
    },

    // char-entropy mirror: same micro-unit per-character terms over
    // the distinct-char list, exact-long sum, 6-dp final division
    "t52_char_entropy" ->
      """WITH ch AS (SELECT doc_id, string_split(text, '') AS ch FROM documents),
         m AS (SELECT doc_id, ch, len(ch) AS n,
                 list_distinct(ch) AS dch FROM ch)
         SELECT doc_id,
           CAST(length(array_to_string(ch, '')) AS BIGINT) AS n_chars,
           CAST(len(dch) AS BIGINT) AS n_distinct_chars,
           CASE WHEN n <= 0 THEN 0.0 ELSE ROUND(
             list_sum(list_transform(dch, c ->
               CAST(ROUND(len(list_filter(ch, x -> x = c))::DOUBLE
                 * ln(n::DOUBLE / len(list_filter(ch, x -> x = c))::DOUBLE)
                 * 10000.0, 0) AS BIGINT)))::DOUBLE
             / 10000.0 / n::DOUBLE, 6) END AS entropy
         FROM m ORDER BY doc_id""",

    // contiguous-fill packing mirror: per-source window token cumsum
    "t24_pack_sequences" ->
      s"""SELECT source, doc_id, n_tok,
           CAST(FLOOR((cum - n_tok) / 512.0::DOUBLE) AS BIGINT) AS bin
         FROM (
           SELECT source, doc_id, CAST(len(w) AS BIGINT) AS n_tok,
             SUM(CAST(len(w) AS BIGINT))
               OVER (PARTITION BY source ORDER BY doc_id) AS cum
           FROM (SELECT source, doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                 x -> x <> '') AS w
             FROM documents))
         ORDER BY doc_id""",

    // PII scrub mirror: identical RE2 patterns, 'g' for global replace
    "t25_pii_scrub" -> {
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ip = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
      val digits = """\b[0-9]{9,}\b"""
      s"""SELECT doc_id,
           CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(text, '$digits')) AS BIGINT) AS n_num,
           regexp_replace(regexp_replace(regexp_replace(text,
             '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
             '$digits', '<NUM>', 'g') AS clean_text
         FROM documents ORDER BY doc_id"""
    },

    // top-bigram mirror: 2-gram explode + count + deterministic order
    "t26_top_ngrams" ->
      s"""SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           SELECT list_extract(w, i) || ' ' || list_extract(w, i+1) AS gram
           FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i
                 FROM ($TOKS_SQL)))
         GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""",

    // simhash near-dup mirror: 64-bit signature from the same hexBit
    // lists as the operator, 16-bit band join, 64-term Hamming sum
    "t21_simhash_pairs" -> {
      import graft.text.TextOps.hexBit
      val ham = (1 to 64).map(i =>
        s"CASE WHEN substr(sa.simhash, $i, 1) = substr(sb.simhash, $i, 1) THEN 0 ELSE 1 END")
        .mkString(" + ")
      def inList(k: Int) = hexBit(k).map(h => s"'$h'").mkString("(", ",", ")")
      s"""WITH tok AS (SELECT doc_id, md5(tok) AS h
           FROM (SELECT doc_id, unnest(w) AS tok FROM ($TOKS_SQL))),
         sums AS (SELECT doc_id, ${(0 until 64).map(b =>
        s"SUM(CASE WHEN substr(h, ${b / 4 + 1}, 1) IN ${inList(3 - b % 4)} THEN 1 ELSE -1 END) AS b$b")
        .mkString(", ")} FROM tok GROUP BY doc_id),
         sigs AS (SELECT doc_id, concat(${(0 until 64).map(b =>
        s"CASE WHEN b$b > 0 THEN '1' ELSE '0' END").mkString(", ")}) AS simhash
           FROM sums),
         bands AS (SELECT doc_id, b, substr(simhash, 1 + 16 * b, 16) AS v
           FROM sigs, (SELECT unnest(generate_series(0, 3)) AS b)),
         ${candPairsCtes("bands", "cand", keys = Seq("b", "v"))},
         ham AS (SELECT a_id, b_id, CAST($ham AS INTEGER) AS hamming
           FROM cand
           JOIN sigs sa ON sa.doc_id = a_id
           JOIN sigs sb ON sb.doc_id = b_id)
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 3
         ORDER BY a_id, b_id"""
    },

    // lang-ID mirror: ratios + argmax generated from the SAME profile
    // map as the Spark operator, so the two cannot drift
    "t20_lang_id" -> {
      val (rs, pred) = langIdSqlParts
      val langs = graft.text.TextOps.langProfiles.keys.toSeq.sorted
      s"""SELECT doc_id, ${langs.map(l => s"r_$l").mkString(", ")}, $pred AS lang_pred
         FROM (SELECT doc_id, $rs FROM ($TOKS_SQL)) ORDER BY doc_id"""
    },

    // repetition mirror: same (doc, term) -> doc two-level aggregation
    "t19_repetition_stats" ->
      s"""WITH words AS (SELECT doc_id, unnest(w) AS t FROM ($TOKS_SQL)),
         grams AS (
           SELECT doc_id, list_extract(w, i) || ' ' || list_extract(w, i+1) AS t
           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS i
                 FROM ($TOKS_SQL))),
         wf AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS mx, COUNT(*) AS nd
                FROM (SELECT doc_id, t, COUNT(*) AS c FROM words GROUP BY 1, 2)
                GROUP BY 1),
         bf AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS mx, COUNT(*) AS nd
                FROM (SELECT doc_id, t, COUNT(*) AS c FROM grams GROUP BY 1, 2)
                GROUP BY 1)
         SELECT d.doc_id,
           CAST(COALESCE(wf.n, 0) AS BIGINT) AS n_word,
           ROUND(CAST(wf.mx AS DOUBLE) / wf.n, 6) AS top_word_frac,
           ROUND(CAST(wf.n - wf.nd AS DOUBLE) / wf.n, 6) AS dup_word_frac,
           CAST(COALESCE(bf.n, 0) AS BIGINT) AS n_bigram,
           ROUND(CAST(bf.mx AS DOUBLE) / bf.n, 6) AS top_bigram_frac,
           ROUND(CAST(bf.n - bf.nd AS DOUBLE) / bf.n, 6) AS dup_bigram_frac
         FROM documents d
         LEFT JOIN wf ON wf.doc_id = d.doc_id
         LEFT JOIN bf ON bf.doc_id = d.doc_id
         ORDER BY d.doc_id""",

    // winnowing mirror: same 60-bit md5-prefix gram hashes, same
    // forward window-min + full-window rule (short docs: one
    // degenerate window at the first gram)
    "t17_winnow_fingerprint" ->
      s"""WITH grams AS (
           SELECT doc_id, i AS pos,
                  list_extract(w, i) || ' ' || list_extract(w, i+1) || ' ' ||
                  list_extract(w, i+2) AS sh
           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
                 FROM ($TOKS_SQL))),
         hashed AS (
           SELECT doc_id, pos, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
           FROM grams),
         win AS (
           SELECT doc_id, pos,
                  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                  COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn,
                  COUNT(*) OVER (PARTITION BY doc_id) AS n
           FROM hashed)
         SELECT DISTINCT doc_id, wmin AS fp FROM win
         WHERE wn = 4 OR (n < 4 AND pos = 1)
         ORDER BY doc_id, fp""",
    "t01_exact_dedup" ->
      """SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS n,
         MIN(doc_id) AS canonical_id
         FROM documents GROUP BY 1 ORDER BY 1""",
    "t02_token_stats" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
         ROUND(CASE WHEN len(w) = 0 THEN NULL
           ELSE CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
           END, 6) AS avg_token_len
         FROM ($TOKS_SQL) ORDER BY doc_id""",
    "t03_lang_quality" ->
      s"""SELECT doc_id,
         ROUND(CASE WHEN len(w) = 0 THEN NULL
           ELSE CAST(len(list_filter(w, x -> list_contains(
             ['the','a','of','and','to','in','is','it','you','that','for','on','with','as'], x))) AS DOUBLE) / len(w)
           END, 6) AS stop_ratio,
         CASE WHEN len(w) = 0 THEN 'unknown'
              WHEN CAST(len(list_filter(w, x -> list_contains(
             ['the','a','of','and','to','in','is','it','you','that','for','on','with','as'], x))) AS DOUBLE) / len(w) >= 0.05 THEN 'en'
              ELSE 'other' END AS lang_pred,
         ROUND(CASE WHEN len(w) = 0 THEN NULL
           ELSE CAST(len(list_distinct(w)) AS DOUBLE) / len(w) END, 6) AS ttr
         FROM ($TOKS_SQL) ORDER BY doc_id""",
    "t04_minhash_signature" ->
      s"""SELECT doc_id, concat_ws('|', ${(0 until 8).map(mhAgg).mkString(", ")}) AS signature
         FROM ($SHINGLES_SQL) GROUP BY doc_id ORDER BY doc_id""",
    "t05_lsh_candidates" ->
      s"""WITH mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2*b} || ':' || h${2*b+1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")})
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS min_doc,
         MAX(doc_id) AS max_doc
         FROM buckets GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""",
    "t06_simhash" ->
      s"""WITH tok AS (SELECT doc_id, md5(tok) AS h
           FROM (SELECT doc_id, unnest(w) AS tok FROM ($TOKS_SQL))),
         sums AS (SELECT doc_id, ${(0 until 16).map(b =>
           s"SUM(CASE WHEN substr(h, ${b + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$b")
           .mkString(", ")} FROM tok GROUP BY doc_id)
         SELECT doc_id, concat(${(0 until 16).map(b =>
           s"CASE WHEN b$b > 0 THEN '1' ELSE '0' END").mkString(", ")}) AS simhash
         FROM sums ORDER BY doc_id""",
    "t08_srp_buckets" -> {
      val bits = srpPlanes.map { plane =>
        val arr = plane.mkString(", ")
        s"CASE WHEN list_dot_product(v, [$arr]::DOUBLE[]) >= 0.0 THEN '1' ELSE '0' END"
      }.mkString(", ")
      s"""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sigs AS (SELECT vec_id, concat($bits) AS srp_sig FROM d)
         SELECT srp_sig, CAST(COUNT(*) AS BIGINT) AS n, MIN(vec_id) AS min_id,
         MAX(vec_id) AS max_id
         FROM sigs GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1"""
    },
    "t16_cosine_near_dup" -> {
      val bits = srpPlanes.map { plane =>
        val arr = plane.mkString(", ")
        s"CASE WHEN list_dot_product(v, [$arr]::DOUBLE[]) >= 0.0 THEN '1' ELSE '0' END"
      }.mkString(", ")
      s"""WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sigs AS (SELECT vec_id, concat($bits) AS srp_sig FROM d),
         ${candPairsCtes("sigs", "cand", keys = Seq("srp_sig"), id = "vec_id")},
         scored AS (SELECT a_id, b_id,
           ROUND(list_dot_product(da.v, db.v) /
             (sqrt(list_dot_product(da.v, da.v)) * sqrt(list_dot_product(db.v, db.v))), 4) AS cos
           FROM cand JOIN d da ON da.vec_id = a_id JOIN d db ON db.vec_id = b_id)
         SELECT a_id, b_id, cos FROM scored WHERE cos >= 0.2
         ORDER BY a_id, b_id"""
    },
    "t09_ivf_cells" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 4),
         sc AS (SELECT d.vec_id, cell,
                 ROUND(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 4) AS sim
               FROM d, cent),
         r AS (SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
               FROM sc)
         SELECT vec_id, cell FROM r WHERE rn = 1 ORDER BY vec_id""",
    "t12_jaccard_verify" ->
      s"""WITH mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2*b} || ':' || h${2*b+1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "pairs")},
         sh AS (SELECT DISTINCT doc_id, sh FROM ($SHINGLES_SQL)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (SELECT p.a_id, p.b_id, COUNT(*) AS n_inter
           FROM pairs p
           JOIN sh sa ON sa.doc_id = p.a_id
           JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
           GROUP BY 1, 2)
         SELECT p.a_id, p.b_id,
           ROUND(COALESCE(i.n_inter, 0)::DOUBLE /
             (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)), 6) AS jaccard
         FROM pairs p
         JOIN sizes na ON na.doc_id = p.a_id
         JOIN sizes nb ON nb.doc_id = p.b_id
         LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id
         ORDER BY p.a_id, p.b_id""",
    "t15_bpe_tokens" -> {
      val pat = TextOps.BpePattern.replace("'", "''")
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe_tokens,
         ROUND(CASE WHEN len(regexp_extract_all(text, '$pat')) = 0 THEN NULL
           ELSE CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '$pat'))
           END, 6) AS chars_per_token
         FROM documents ORDER BY doc_id"""
    },
    "t14_near_dedup" ->
      s"""WITH RECURSIVE mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2*b} || ':' || h${2*b+1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "pairs")},
         edges AS (SELECT a_id, b_id FROM pairs
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         nodes AS (SELECT DISTINCT a_id AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id AS r FROM nodes
           UNION
           SELECT e.a_id AS id, reach.r FROM edges e
           JOIN reach ON reach.id = e.b_id)
         SELECT id AS doc_id, MIN(r) AS cluster FROM reach
         GROUP BY id ORDER BY doc_id""",
    // the distributed-path twin shares t14's oracle verbatim: connected
    // components are algorithm-independent (component min id), so the
    // SAME recursive-CTE mirror certifies both dispatch paths
    "t150_near_dedup_distributed" ->
      s"""WITH RECURSIVE mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2*b} || ':' || h${2*b+1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "pairs")},
         edges AS (SELECT a_id, b_id FROM pairs
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         nodes AS (SELECT DISTINCT a_id AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id AS r FROM nodes
           UNION
           SELECT e.a_id AS id, reach.r FROM edges e
           JOIN reach ON reach.id = e.b_id)
         SELECT id AS doc_id, MIN(r) AS cluster FROM reach
         GROUP BY id ORDER BY doc_id""",
    // independent triangle formulation: canonical x<y<z enumeration
    // over the undirected simple graph — no degree orientation, so a
    // match certifies the Spark construction end to end
    "t151_triangle_counts" ->
      """WITH d AS (SELECT doc_id FROM documents),
         nn AS (SELECT COUNT(*) AS n FROM d),
         raw AS (
           SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst
             FROM d
           UNION ALL
           SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM d
           UNION ALL
           SELECT doc_id, doc_id % 1009 FROM d),
         und AS (SELECT DISTINCT LEAST(src, dst) AS a,
                   GREATEST(src, dst) AS b
                 FROM raw WHERE src <> dst),
         deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
                   SELECT a AS v FROM und
                   UNION ALL SELECT b FROM und)
                 GROUP BY 1),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM und e1
                 JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                 JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         pv AS (SELECT v0, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
                  SELECT x AS v0 FROM tri
                  UNION ALL SELECT y FROM tri
                  UNION ALL SELECT z FROM tri) GROUP BY 1)
         SELECT deg.v AS node, deg.degree,
           COALESCE(pv.triangles, 0) AS triangles,
           CASE WHEN deg.degree >= 2 THEN
             ROUND(COALESCE(pv.triangles, 0) * 2.0 /
               (deg.degree * (deg.degree - 1)), 6)
           ELSE 0.0 END AS clustering
         FROM deg LEFT JOIN pv ON pv.v0 = deg.v ORDER BY 1""",
    // head+tail truncation mirror: literal-space tokens, first-25 +
    // last-25 slices rejoined with single spaces; <= 50 tokens passes
    // the ORIGINAL string through untouched
    "t54_truncate_tokens" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CASE WHEN len(t) <= 50 THEN text
             ELSE array_to_string(list_slice(t, 1, 25), ' ') || ' ' ||
                  array_to_string(list_slice(t, len(t) - 24, len(t)), ' ')
             END AS text_trunc,
           len(t) > 50 AS truncated
         FROM tk ORDER BY doc_id""",

    // leak-safe split mirror: t14's cluster chain LEFT-joined back to
    // the full corpus (singletons cluster to themselves), side by the
    // "split:"-salted cluster-id hash against 0.2
    "t53_leak_safe_split" -> {
      val denom = math.pow(16.0, 15)
      s"""WITH RECURSIVE mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2*b} || ':' || h${2*b+1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "pairs")},
         edges AS (SELECT a_id, b_id FROM pairs
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         nodes AS (SELECT DISTINCT a_id AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id AS r FROM nodes
           UNION
           SELECT e.a_id AS id, reach.r FROM edges e
           JOIN reach ON reach.id = e.b_id),
         cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         SELECT d.doc_id,
           COALESCE(cc.cluster, d.doc_id) AS cluster,
           CASE WHEN ('0x' || substr(md5('split:' ||
                 CAST(COALESCE(cc.cluster, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
               / ($denom::DOUBLE) < 0.2
             THEN 'test' ELSE 'train' END AS split
         FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
         ORDER BY d.doc_id"""
    },
    "t13_kmeans_ivf" ->
      s"""WITH $KMEANS_TRAINED_ASSIGN_CTES
         SELECT vec_id, cell FROM af ORDER BY vec_id""",

    // JSONL manifest mirror: t144's md5 shard chain + an explicit
    // reconstruction of Spark's to_json rendering ({"doc_id":N,
    // "text":"..."} in column order, backslash and quote escaped).
    // Control/non-ASCII chars would need \\uXXXX escapes the mirror
    // doesn't model — those rows POISON to NULL so fixture drift fails
    // loudly instead of silently passing (today's corpus: 0 such rows)
    "t147_jsonl_manifest" ->
      """WITH h AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
           FROM documents),
         s AS (SELECT doc_id, CAST(u % 8 AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY u % 8 ORDER BY u, doc_id)
               AS BIGINT) AS seq
           FROM h),
         l AS (SELECT doc_id,
             CASE WHEN regexp_matches(text, '[^ -~]') THEN NULL
               ELSE '{"doc_id":' || CAST(doc_id AS VARCHAR) ||
                 ',"text":"' ||
                 replace(replace(text, '\', '\\'), '"', '\"') || '"}'
             END AS line
           FROM documents)
         SELECT s.doc_id, s.shard, s.seq,
           'shard-' || lpad(CAST(s.shard AS VARCHAR), 6, '0') || '.jsonl'
             AS file,
           CAST(octet_length(encode(l.line)) AS BIGINT) AS line_bytes
         FROM s JOIN l USING (doc_id) ORDER BY s.doc_id""",

    // Composed event pipeline mirror: q11-style sessionization (12h
    // gap) x q31-style per-anchor windowed funnel (6h) x q27-style
    // integer-rank percentiles of session duration per funnel depth
    "t149_event_pipeline" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS et,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_type, value
              FROM events),
         l AS (SELECT *, LAG(et) OVER (PARTITION BY user_id ORDER BY et)
                 AS prev FROM e),
         n AS (SELECT *, CASE WHEN prev IS NULL
                 OR epoch_us(et) - epoch_us(prev) > 43200000000
                 THEN 1 ELSE 0 END AS ns FROM l),
         s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY et
                 ROWS UNBOUNDED PRECEDING) AS sid FROM n),
         sess AS (SELECT user_id, sid,
                 epoch_us(MAX(et)) - epoch_us(MIN(et)) AS dur_us
               FROM s GROUP BY 1, 2),
         a AS (SELECT user_id, tus AS t1 FROM e WHERE event_type='click'),
         s2 AS (SELECT a.user_id, t1, min(e.tus) AS t2
                FROM a JOIN e USING(user_id)
                WHERE e.event_type='purchase' AND e.tus > t1
                  AND e.tus - t1 <= 21600000000 GROUP BY 1,2),
         s3 AS (SELECT s2.user_id, t1, min(e.tus) AS t3
                FROM s2 JOIN e USING(user_id)
                WHERE e.event_type='purchase' AND e.value > 50
                  AND e.tus > t2 AND e.tus - t1 <= 21600000000
                GROUP BY 1,2),
         fr AS (SELECT a.user_id, a.t1, s2.t2, s3.t3
               FROM a LEFT JOIN s2 ON a.user_id=s2.user_id AND a.t1=s2.t1
                      LEFT JOIN s3 ON a.user_id=s3.user_id AND a.t1=s3.t1),
         fun AS (SELECT u.user_id,
             CAST(coalesce(max(CASE WHEN t3 IS NOT NULL THEN 3
                  WHEN t2 IS NOT NULL THEN 2
                  WHEN t1 IS NOT NULL THEN 1 END), 0) AS INTEGER)
               AS stages_reached
           FROM (SELECT DISTINCT user_id FROM e) u
             LEFT JOIN fr USING(user_id) GROUP BY 1),
         sf AS (SELECT stages_reached, dur_us, sess.user_id, sid
                FROM sess JOIN fun USING(user_id)),
         r AS (SELECT stages_reached, dur_us,
                 row_number() OVER (PARTITION BY stages_reached
                   ORDER BY dur_us, user_id, sid) AS rk,
                 count(*) OVER (PARTITION BY stages_reached) AS cnt
               FROM sf),
         pct AS (SELECT stages_reached,
                 CAST(max(cnt) AS BIGINT) AS n_sessions,
                 max(CASE WHEN rk = (50*cnt + 99)//100 THEN dur_us END)
                   AS p50_dur_us,
                 max(CASE WHEN rk = (90*cnt + 99)//100 THEN dur_us END)
                   AS p90_dur_us
               FROM r GROUP BY 1),
         nu AS (SELECT stages_reached, CAST(count(*) AS BIGINT) AS n_users
                FROM fun GROUP BY 1)
         SELECT stages_reached, n_users, n_sessions, p50_dur_us, p90_dur_us
         FROM pct JOIN nu USING(stages_reached) ORDER BY 1""",
    // TFRecord manifest mirror: same shard chain; record size is the
    // 16-byte framing constant plus the UTF-8 payload length
    "t148_tfrecord_manifest" ->
      """WITH h AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
           FROM documents),
         s AS (SELECT doc_id, CAST(u % 4 AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY u % 4 ORDER BY u, doc_id)
               AS BIGINT) AS seq
           FROM h)
         SELECT s.doc_id, s.shard, s.seq,
           'shard-' || lpad(CAST(s.shard AS VARCHAR), 5, '0') ||
             '-of-00004.tfrecord' AS file,
           CAST(16 + octet_length(encode(d.text)) AS BIGINT)
             AS record_bytes
         FROM s JOIN documents d USING (doc_id) ORDER BY s.doc_id""",

    // dangling-redistribution PageRank mirror: t142's unrolled integer
    // recurrence plus the per-step dangling term — scalar subqueries
    // compute M_k (ranks of nodes outside od) and |V|, the share is
    // floor(M/|V|) damped with the engine's pinned floor order; final
    // CAST back to BIGINT (SUM promotes to HUGEINT — the t142 lesson)
    "t146_pagerank_dangling" -> {
      def step(prev: String, next: String) =
        s"""$next AS MATERIALIZED (SELECT n.node,
           150000 + (85 * COALESCE(SUM($prev.r // od.od), 0)) // 100
             + (85 * ((SELECT COALESCE(SUM(r), 0) FROM $prev
                 WHERE node NOT IN (SELECT src FROM od))
               // (SELECT nv FROM nvt))) // 100 AS r
           FROM nodes n
           LEFT JOIN e ON e.dst = n.node
           LEFT JOIN $prev ON $prev.node = e.src
           LEFT JOIN od ON od.src = e.src
           GROUP BY 1)"""
      val steps = (1 to 4).map(i => step(s"r${i - 1}", s"r$i"))
        .mkString(",\n         ")
      s"""WITH d AS (SELECT doc_id FROM documents),
         nn AS (SELECT COUNT(*) AS n FROM d),
         e AS MATERIALIZED (
           SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT n FROM nn) AS dst
             FROM d WHERE doc_id % 3 <> 0
           UNION ALL SELECT doc_id AS src, doc_id % 10 AS dst
             FROM d WHERE doc_id % 3 <> 0),
         nodes AS MATERIALIZED (SELECT src AS node FROM e
           UNION SELECT dst FROM e),
         od AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
         nvt AS (SELECT COUNT(*) AS nv FROM nodes),
         r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes),
         $steps
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4
         ORDER BY node"""
    },

    // tf.Example wire mirror: rebuilds the protobuf bytes bottom-up as
    // hex strings — varint via the vhx CASE cascade (canonical LEB128,
    // 1..5 bytes covering sf1's ~1e9 doc_ids, NULL past 2^35 so
    // overflow fails loudly), lengths from hex-string halves, features
    // emitted in the sorted key order the engine pins
    // (doc_id < text < tok_lens)
    "t145_tfexample_bytes" -> {
      def vhx(a: String): String =
        s"""(CASE WHEN $a < 128 THEN lpad(lower(to_hex($a)), 2, '0')
           WHEN $a < 16384 THEN lpad(lower(to_hex(($a % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex($a // 128)), 2, '0')
           WHEN $a < 2097152 THEN lpad(lower(to_hex(($a % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex((($a // 128) % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex($a // 16384)), 2, '0')
           WHEN $a < 268435456 THEN lpad(lower(to_hex(($a % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex((($a // 128) % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex((($a // 16384) % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex($a // 2097152)), 2, '0')
           WHEN $a < 34359738368 THEN lpad(lower(to_hex(($a % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex((($a // 128) % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex((($a // 16384) % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex((($a // 2097152) % 128) + 128)), 2, '0') ||
             lpad(lower(to_hex($a // 268435456)), 2, '0')
           ELSE NULL END)"""
      s"""WITH base AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             t -> t <> '') AS toks
         FROM documents),
         p1 AS (SELECT doc_id, text,
           ${vhx("doc_id")} AS di_packed,
           array_to_string(list_transform(toks,
             l -> ${vhx("length(l)")}), '') AS tl_packed
         FROM base),
         p2 AS (SELECT doc_id, text, tl_packed,
           '0a' || ${vhx("length(di_packed) // 2")} || di_packed AS di_list,
           CASE WHEN tl_packed = '' THEN ''
             ELSE '0a' || ${vhx("length(tl_packed) // 2")} || tl_packed
           END AS tl_list,
           '0a' || ${vhx("octet_length(encode(text))")} ||
             lower(hex(encode(text))) AS tb_frame
         FROM p1),
         p3 AS (SELECT doc_id,
           '1a' || ${vhx("length(di_list) // 2")} || di_list AS feat_di,
           '1a' || ${vhx("length(tl_list) // 2")} || tl_list AS feat_tl,
           '0a' || ${vhx("length(tb_frame) // 2")} || tb_frame AS feat_tx
         FROM p2),
         p4 AS (SELECT doc_id,
           '0a06' || lower(hex(encode('doc_id'))) || '12' ||
             ${vhx("length(feat_di) // 2")} || feat_di AS ent_di_c,
           '0a04' || lower(hex(encode('text'))) || '12' ||
             ${vhx("length(feat_tx) // 2")} || feat_tx AS ent_tx_c,
           '0a08' || lower(hex(encode('tok_lens'))) || '12' ||
             ${vhx("length(feat_tl) // 2")} || feat_tl AS ent_tl_c
         FROM p3),
         p5 AS (SELECT doc_id,
           '0a' || ${vhx("length(ent_di_c) // 2")} || ent_di_c ||
           '0a' || ${vhx("length(ent_tx_c) // 2")} || ent_tx_c ||
           '0a' || ${vhx("length(ent_tl_c) // 2")} || ent_tl_c AS feats
         FROM p4)
         SELECT doc_id, '0a' || ${vhx("length(feats) // 2")} || feats
           AS example_hex
         FROM p5 ORDER BY doc_id"""
    },

    // WebDataset manifest mirror: t35's md5 shard chain + the member
    // naming rule; img_bytes is the planted-BMP construction-rule
    // constant (8x8 24-bit rows padded to 24 bytes + 54-byte header)
    "t144_webdataset_manifest" ->
      """WITH h AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
           FROM documents),
         s AS (SELECT doc_id, CAST(u % 8 AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY u % 8 ORDER BY u, doc_id)
               AS BIGINT) AS seq
           FROM h),
         k AS (SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 9, '0') AS key
           FROM documents)
         SELECT s.doc_id, s.shard, s.seq, k.key,
           k.key || '.bmp' AS img_member,
           k.key || '.txt' AS txt_member,
           CAST(54 + 24 * 8 AS BIGINT) AS img_bytes,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS txt_bytes
         FROM s JOIN k USING (doc_id) JOIN documents d USING (doc_id)
         ORDER BY s.doc_id""",

    // pHash mirror: the planted md5 pattern gives the exact 8x8 pixel
    // grid (255 * bit); the fixed-point DCT uses the ENGINE'S cosine
    // table verbatim (Media.PhashCosTable interpolated below), the
    // lower median of the 63 AC coefficients thresholds the bits, and
    // the HUGEINT bit sum folds back to the signed-64 bit pattern
    "t143_image_phash" -> {
      val ct = graft.multimodal.Media.PhashCosTable
      val vals = (for (u <- 0 until 8; x <- 0 until 8)
        yield s"($u, $x, ${ct(u)(x)})").mkString(", ")
      s"""WITH ppat AS (SELECT doc_id,
           xor(('0x' || substr(md5('imgcls:' || CAST(doc_id // 5 AS VARCHAR)), 1, 15))::BIGINT,
               (1::BIGINT << CAST(doc_id % 5 AS INTEGER)) - 1) AS h
         FROM documents),
         ctab(u, x, c) AS (VALUES $vals),
         pbits AS (SELECT doc_id, i, 255 * ((h >> i) & 1) AS g
           FROM ppat, (SELECT unnest(range(0, 64)) AS i)),
         pdct AS MATERIALIZED (SELECT b.doc_id, cu.u AS u, cv.u AS v,
             SUM(b.g * cu.c * cv.c) AS d
           FROM pbits b
           JOIN ctab cu ON cu.x = b.i % 8
           JOIN ctab cv ON cv.x = b.i // 8
           GROUP BY 1, 2, 3),
         pmed AS (SELECT doc_id, d AS m FROM (
           SELECT doc_id, d, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d) AS rn
           FROM pdct WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
         praw AS (SELECT pdct.doc_id,
             SUM(CASE WHEN NOT (u = 0 AND v = 0) AND d > m.m
               THEN (1::HUGEINT << (v * 8 + u)) ELSE 0 END) AS s
           FROM pdct JOIN pmed m USING (doc_id) GROUP BY 1)
         SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
             THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT)
           AS phash
         FROM praw ORDER BY doc_id"""
    },

    // PageRank mirror: same integer fixed-point recurrence, unrolled —
    // contribution floor-div at the source, damped floor-div after the
    // inbound sum, base (1-d)*1e6; bit-exact long arithmetic end to end
    "t142_link_pagerank" -> {
      def step(prev: String, next: String) =
        s"""$next AS MATERIALIZED (SELECT n.node,
           150000 + (85 * COALESCE(SUM($prev.r // od.od), 0)) // 100 AS r
           FROM nodes n
           LEFT JOIN e ON e.dst = n.node
           LEFT JOIN $prev ON $prev.node = e.src
           LEFT JOIN od ON od.src = e.src
           GROUP BY 1)"""
      val steps = (1 to 6).map(i => step(s"r${i - 1}", s"r$i"))
        .mkString(",\n         ")
      s"""WITH d AS (SELECT doc_id FROM documents),
         nn AS (SELECT COUNT(*) AS n FROM d),
         e AS MATERIALIZED (
           SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT n FROM nn) AS dst FROM d
           UNION ALL SELECT doc_id AS src, doc_id % 10 AS dst FROM d),
         nodes AS MATERIALIZED (SELECT src AS node FROM e
           UNION SELECT dst FROM e),
         od AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),
         r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes),
         $steps
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r6 ORDER BY node"""
    },

    // unigram-LM tokenizer mirror: training + per-word Viterbi DP
    // unrolled to 16 positions, piece paths carried through the
    // argmax so the segmentation string is recomputed verbatim
    "t139_unigram_tokenize" ->
      s"""WITH ${unigramSql(vocabSize = 64, maxPieceLen = 8, unroll = 16)}
         SELECT t.doc_id, COALESCE(a.pieces, '') AS pieces,
           CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces,
           CAST(COALESCE(a.score_micro, 0) AS BIGINT) AS score_micro
         FROM tk t LEFT JOIN uniagg a USING (doc_id) ORDER BY doc_id""",

    // unigram Viterbi-EM mirror: seed chain + decode-count re-score +
    // second unrolled DP under vocab2 (with the UNK anti-join leg for
    // characters the pruning orphaned)
    "t140_unigram_em" ->
      s"""WITH ${unigramEmSql(vocabSize = 64, maxPieceLen = 8, unroll = 16)}
         SELECT t.doc_id, COALESCE(a.pieces, '') AS pieces,
           CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces,
           CAST(COALESCE(a.score_micro, 0) AS BIGINT) AS score_micro
         FROM tk t LEFT JOIN uniagge a USING (doc_id) ORDER BY doc_id""",

    // unigram fertility mirror: the t139 chain rolled up per source
    "t141_unigram_fertility" ->
      s"""WITH ${unigramSql(vocabSize = 64, maxPieceLen = 8, unroll = 16)}
         SELECT d.source,
           CAST(SUM(COALESCE(a.n_pieces, 0)) AS BIGINT) AS uni_pieces,
           CAST(SUM(len(t.toks)) AS BIGINT) AS words,
           ROUND(SUM(COALESCE(a.n_pieces, 0))::DOUBLE / SUM(len(t.toks)), 6)
             AS fertility
         FROM tk t
         JOIN documents d USING (doc_id)
         LEFT JOIN uniagg a USING (doc_id)
         GROUP BY 1 ORDER BY 1""",

    // semantic decontamination mirror: bench slice broadcast-shaped in
    // SQL as a plain cross join; threshold filter BEFORE the per-corpus
    // top-1 window, as the engine runs it
    "t136_semantic_decontam" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (SELECT vec_id AS bench_id, v AS bv FROM d WHERE vec_id < 50),
         c AS (SELECT vec_id, v FROM d WHERE vec_id >= 50),
         p AS (SELECT c.vec_id, bench_id,
                 ROUND(list_dot_product(c.v, bv) /
                   (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(bv, bv))), 4) AS cos
               FROM c, b),
         f AS (SELECT vec_id, bench_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rn
               FROM p WHERE cos >= 0.35)
         SELECT vec_id, bench_id, cos FROM f WHERE rn = 1 ORDER BY vec_id""",

    // hard-negative mirror: t07's exact-cosine chain with the
    // similarity band applied before the per-anchor top-k ranking
    "t137_hard_negatives" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < 10),
         p AS (SELECT query_id, vec_id AS neg_id,
                 ROUND(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS score
               FROM d, q WHERE vec_id <> query_id),
         f AS (SELECT query_id, neg_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neg_id) AS rank
               FROM p WHERE score >= 0.2 AND score < 0.45)
         SELECT query_id, neg_id, CAST(rank AS INTEGER) AS rank, score
         FROM f WHERE rank <= 5 ORDER BY query_id, rank""",

    // prototype-prune mirror: t13's trained-assignment chain, each
    // member re-scored against its own cell's trained centroid (c2),
    // per-cell floor(n * 0.3) most-prototypical rows dropped
    "t138_prototype_prune" ->
      s"""WITH $KMEANS_TRAINED_ASSIGN_CTES,
         sc AS (SELECT a.vec_id, a.cell,
                  ROUND(list_dot_product(a.v, c.cv) /
                    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS proto
                FROM af a JOIN c2 c USING (cell)),
         n AS (SELECT cell, COUNT(*) AS n FROM sc GROUP BY cell),
         r AS (SELECT vec_id, cell, proto,
                 ROW_NUMBER() OVER (PARTITION BY cell ORDER BY proto DESC, vec_id) AS rank
               FROM sc)
         SELECT r.vec_id, r.cell, r.proto, CAST(r.rank AS INTEGER) AS rank
         FROM r JOIN n USING (cell) WHERE r.rank > FLOOR(n.n * 0.3)
         ORDER BY cell, rank""",

    // SemDeDup mirror: the SAME trained-assignment chain as t13, then
    // the "exists an earlier similar same-cell member" drop rule. Cell
    // ids cast to VARCHAR: the engine's default-on cell-size guard
    // carries string cells (no split happens at this SF — every cell is
    // under the 500 cap — so the VALUES are the uncapped algorithm's).
    // Default-path mirror = the SAME capped machinery at the default
    // cap/rounds (500, 3): at sf0.01 no cell exceeds 500 and this
    // degenerates to the uncapped drop rule; at sf0.1 the 2000-vector
    // 4-cell assignment DOES split, and only the capped mirror stays
    // bit-identical (caught by the r9 sf0.1 stretch check).
    "t41_semantic_dedup" ->
      s"""WITH ${semdedupCappedSql(500, 3)}
         SELECT vec_id, cell FROM r3
         WHERE vec_id NOT IN (SELECT vec_id FROM capdrops)
         ORDER BY vec_id""",

    // Capped-SemDeDup mirror: same trained assignment, then 2 refine
    // rounds splitting every cell > 50 members via smallest-id sub-seed
    // re-assignment (rounded cosine, member-x-seed md5 tie-break), then the same
    // earlier-similar-member drop rule on the refined cells.
    "t44_semdedup_capped" ->
      s"""WITH ${semdedupCappedSql(50, 2)}
         SELECT vec_id, cell FROM r2
         WHERE vec_id NOT IN (SELECT vec_id FROM capdrops)
         ORDER BY vec_id""",

    // Repeated-span removal mirror: literal-space tokens (NOT the
    // lowercased TOKS_SQL — reconstruction must be byte-exact),
    // 8-token grams, hot = >= 2 distinct docs, coverage via exploded
    // (doc, pos) anti-join, rebuild with an ordered string_agg.
    // 1-based list positions where the Spark side is 0-based; internal.
    "t45_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, i AS s, array_to_string(t[i:i+7], ' ') AS gram
               FROM toks, UNNEST(generate_series(1, len(t)-7)) AS u(i)),
         hot AS (SELECT gram FROM g GROUP BY gram
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         hs AS (SELECT g.doc_id, g.s FROM g JOIN hot USING (gram)),
         cov AS (SELECT DISTINCT doc_id, s + d AS p
                 FROM hs, UNNEST(generate_series(0, 7)) AS v(d)),
         tp AS (SELECT doc_id, p, t[p] AS tok
                FROM toks, UNNEST(generate_series(1, len(t))) AS w(p)),
         kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
                  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
                  WHERE cov.p IS NULL),
         agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                        COUNT(*) AS n_kept
                 FROM kept GROUP BY 1)
         SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
         FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",

    // maximal-span mirror: t45's hot-gram machinery plus the classic
    // gaps-and-islands window (break where the 1-based start exceeds
    // the previous start + 8), spans re-emitted 0-based end-exclusive
    "t95_span_dedup_maximal" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (SELECT doc_id, i AS s, array_to_string(t[i:i+7], ' ') AS gram
               FROM toks, UNNEST(generate_series(1, len(t)-7)) AS u(i)),
         hot AS (SELECT gram FROM g GROUP BY gram
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         hs AS (SELECT g.doc_id, g.s FROM g JOIN hot USING (gram)),
         fl AS (SELECT doc_id, s,
                 CASE WHEN LAG(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
                        OR s > LAG(s) OVER (PARTITION BY doc_id ORDER BY s) + 8
                      THEN 1 ELSE 0 END AS brk
                FROM hs),
         spg AS (SELECT doc_id, s,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
                 FROM fl),
         spans AS (SELECT doc_id, MIN(s) AS st1, MAX(s) + 8 AS en1
                   FROM spg GROUP BY doc_id, grp),
         spagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                    string_agg((st1 - 1) || '-' || (en1 - 1), ';' ORDER BY st1)
                      AS spans
                   FROM spans GROUP BY doc_id),
         cov AS (SELECT DISTINCT doc_id, s + d AS p
                 FROM hs, UNNEST(generate_series(0, 7)) AS v(d)),
         tp AS (SELECT doc_id, p, t[p] AS tok
                FROM toks, UNNEST(generate_series(1, len(t))) AS w(p)),
         kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
                  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
                  WHERE cov.p IS NULL),
         agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                        COUNT(*) AS n_kept
                 FROM kept GROUP BY 1)
         SELECT t.doc_id, COALESCE(a.clean_text, '') AS clean_text,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(sa.n_spans, 0) AS n_spans,
           COALESCE(sa.spans, '') AS spans
         FROM toks t LEFT JOIN agg a USING (doc_id)
         LEFT JOIN spagg sa USING (doc_id) ORDER BY doc_id""",

    // DSIR mirror: same salted-md5 bucket hash, add-1 smoothing over
    // 256 buckets, per-bucket 6-dp-rounded micro-nat log ratios summed
    // as BIGINTs, md5-seeded Gumbel tie-broken on doc_id — every
    // floating step rounds before it aggregates, like t40.
    "t46_dsir_select" ->
      s"""WITH bg AS ($BIGRAMS_SQL),
         src AS (SELECT doc_id, source FROM documents),
         bb AS (SELECT bg.doc_id, src.source,
                  ('0x' || substr(md5('dsir:' || sh), 1, 15))::BIGINT % 256 AS b
                FROM bg JOIN src USING (doc_id)),
         tb AS (SELECT b FROM bb WHERE source = 'src0'),
         rb AS (SELECT doc_id, b FROM bb WHERE source <> 'src0'),
         ct AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY 1),
         cr AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY 1),
         tt AS (SELECT COUNT(*) AS tt FROM tb),
         rt AS (SELECT COUNT(*) AS rt FROM rb),
         m AS (SELECT b,
                 CAST(ROUND(ROUND(ln(
                     ((COALESCE(ct.ct, 0) + 1)::DOUBLE / (tt.tt + 256)) /
                     ((COALESCE(cr.cr, 0) + 1)::DOUBLE / (rt.rt + 256))), 6)
                   * 1000000.0, 0) AS BIGINT) AS lr
               FROM cr FULL JOIN ct USING (b) CROSS JOIN tt CROSS JOIN rt),
         w AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(m.lr) AS w
               FROM rb JOIN m USING (b) GROUP BY 1),
         sc AS (SELECT doc_id, n_grams,
                  w::DOUBLE / 1000000.0 AS weight,
                  (w + CAST(ROUND(ROUND(-ln(-ln(
                      (('0x' || substr(md5('dsirg:' || doc_id::VARCHAR), 1, 15))::BIGINT
                        + 0.5) / 1152921504606846976.0)), 6) * 1000000.0, 0)
                    AS BIGINT))::DOUBLE / 1000000.0 AS score
                FROM w)
         SELECT doc_id, n_grams, weight, score FROM sc
         ORDER BY score DESC, doc_id LIMIT 100""",

    // Gopher-rules mirror: same word/line/token splits (words keep
    // case, lines trim + drop blanks, stop-hits use the lowercase
    // alnum tokens), every fraction 6-dp rounded BEFORE the threshold
    // compare, NULL-line/word docs pass the line rules via COALESCE
    // exactly like the Spark side.
    "t47_gopher_rules" ->
      """WITH base AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w,
           list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
             x -> x <> '') AS l,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS t
         FROM documents),
         m AS (SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           len(l) AS n_lines,
           CASE WHEN len(w) = 0 THEN NULL ELSE ROUND(
             list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))::DOUBLE
               / len(w), 6) END AS mean_word_len,
           CASE WHEN len(w) = 0 THEN NULL ELSE ROUND(
             ((length(text) - length(replace(text, '#', ''))) +
              (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
               / len(w), 6) END AS symbol_ratio,
           CASE WHEN len(l) = 0 THEN NULL ELSE ROUND(
             len(list_filter(l, x -> starts_with(x, '-') OR starts_with(x, '*')
               OR starts_with(x, '•')))::DOUBLE / len(l), 6) END AS bullet_frac,
           CASE WHEN len(l) = 0 THEN NULL ELSE ROUND(
             len(list_filter(l, x -> ends_with(x, '...') OR ends_with(x, '…')))
               ::DOUBLE / len(l), 6) END AS ellipsis_frac,
           CASE WHEN len(w) = 0 THEN NULL ELSE ROUND(
             len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
               / len(w), 6) END AS alpha_frac,
           CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
             s -> list_contains(t, s))) AS BIGINT) AS stop_hits
         FROM base)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
           ellipsis_frac, alpha_frac, stop_hits,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND symbol_ratio <= 0.1
             AND COALESCE(bullet_frac <= 0.9, TRUE)
             AND COALESCE(ellipsis_frac <= 0.3, TRUE)
             AND alpha_frac >= 0.8
             AND stop_hits >= 2 AS pass
         FROM m ORDER BY doc_id""",

    // Fractional-overlap contamination mirror: t28's distinct-3-gram
    // join plus a per-doc total, fraction 6-dp rounded before the
    // 5% threshold.
    "t48_overlap_contamination" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, sh FROM ($SHINGLES_SQL)),
         b AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50),
         tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh
                 WHERE doc_id >= 50 GROUP BY 1),
         hit AS (SELECT c.doc_id, COUNT(*) AS n_overlap FROM sh c
                 JOIN b USING (sh) WHERE c.doc_id >= 50 GROUP BY 1)
         SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           ROUND(COALESCE(h.n_overlap, 0)::DOUBLE / t.n_grams, 6) AS overlap_frac,
           ROUND(COALESCE(h.n_overlap, 0)::DOUBLE / t.n_grams, 6) >= 0.05
             AS contaminated
         FROM tot t LEFT JOIN hit h USING (doc_id) ORDER BY doc_id""",

    // BM25 mirror: Lucene-variant idf, k1/b saturation with the SAME
    // float expression shape as the Scala side (1.2 + 1.0 computed,
    // never a 2.2 literal — the runtime sum is what the engine uses),
    // per-(query, doc, term) contributions 6-dp rounded into BIGINT
    // micro-units before the sum, row_number top-10 tie-broken on
    // doc_id.
    "t49_bm25_rank" ->
      s"""WITH tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
               FROM (SELECT doc_id, unnest(w) AS tok FROM ($TOKS_SQL))
               GROUP BY 1, 2),
         dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
         dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
                       (SELECT AVG(dl) FROM dl) AS avgdl),
         qt AS (SELECT DISTINCT doc_id AS query_id, tok AS term
                FROM (SELECT doc_id, unnest(w) AS tok FROM ($TOKS_SQL)
                      WHERE doc_id < 3)),
         ctr AS (SELECT qt.query_id, tf.doc_id,
                  CAST(ROUND(ROUND(
                      ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * (1.2 + 1.0)) /
                      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6)
                    * 1000000.0, 0) AS BIGINT) AS micro
                FROM qt JOIN tf USING (term) JOIN dfq USING (term)
                     JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
         sc AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                  SUM(micro)::DOUBLE / 1000000.0 AS score
                FROM ctr GROUP BY 1, 2)
         SELECT query_id, doc_id, n_terms, score, rank FROM (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS INT) AS rank FROM sc)
         WHERE rank <= 10 ORDER BY query_id, rank""",

    // Pruned-BM25 mirror: identical chain with the df/N stopword guard
    // (df <= N * 0.8) applied to the query-term frame before the
    // postings join — the same place the engine prunes.
    "t50_bm25_pruned" ->
      s"""WITH tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
               FROM (SELECT doc_id, unnest(w) AS tok FROM ($TOKS_SQL))
               GROUP BY 1, 2),
         dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
         dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
                       (SELECT AVG(dl) FROM dl) AS avgdl),
         qt AS (SELECT DISTINCT doc_id AS query_id, tok AS term
                FROM (SELECT doc_id, unnest(w) AS tok FROM ($TOKS_SQL)
                      WHERE doc_id < 3)),
         ctr AS (SELECT qt.query_id, tf.doc_id,
                  CAST(ROUND(ROUND(
                      ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * (1.2 + 1.0)) /
                      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6)
                    * 1000000.0, 0) AS BIGINT) AS micro
                FROM qt JOIN tf USING (term) JOIN dfq USING (term)
                     JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
                WHERE dfq.df <= st.n * 0.8),
         sc AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                  SUM(micro)::DOUBLE / 1000000.0 AS score
                FROM ctr GROUP BY 1, 2)
         SELECT query_id, doc_id, n_terms, score, rank FROM (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS INT) AS rank FROM sc)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    "t11_ivf_search" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 4),
         sc AS (SELECT d.vec_id, d.v, cell,
                 ROUND(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 4) AS sim
               FROM d, cent),
         idx AS (SELECT vec_id, v, cell FROM (
                 SELECT vec_id, v, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
                 FROM sc) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM d
               WHERE vec_id >= 4 AND vec_id < 7),
         qc AS (SELECT query_id, qv, cell,
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
               FROM q, cent),
         probed AS (SELECT query_id, qv, cell FROM (
                 SELECT query_id, qv, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cell) AS rn
                 FROM qc) WHERE rn <= 2),
         cands AS (SELECT p.query_id, i.vec_id AS cand_id,
                 ROUND(list_dot_product(p.qv, i.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(i.v, i.v))), 4) AS score
               FROM idx i JOIN probed p USING (cell)
               WHERE i.vec_id <> p.query_id),
         r AS (SELECT query_id, cand_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
               FROM cands)
         SELECT query_id, cand_id, score FROM r WHERE rn <= 5
         ORDER BY query_id, cand_id""",
    "t07_cosine_topk" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM d WHERE vec_id < 3),
         p AS (SELECT qid, vec_id AS cand_id,
                 ROUND(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS score
               FROM d, q WHERE vec_id <> qid),
         r AS (SELECT qid, cand_id, score,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cand_id) AS rn
               FROM p)
         SELECT qid, cand_id, score FROM r WHERE rn <= 5
         ORDER BY qid, score DESC, cand_id""",
    "t28_decontaminate" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, sh FROM ($SHINGLES_SQL)),
         b AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50)
         SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
         FROM sh c JOIN b ON c.sh = b.sh
         WHERE c.doc_id >= 50
         GROUP BY 1 HAVING COUNT(*) >= 1 ORDER BY 1""",
    "t27_knn_classify" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM d WHERE vec_id < 20),
         p AS (SELECT qid, vec_id AS cand_id, label,
                 ROUND(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS score
               FROM d, q WHERE vec_id <> qid),
         r AS (SELECT qid, label, score, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cand_id) AS rn
               FROM p),
         v AS (SELECT qid, label, CAST(COUNT(*) AS BIGINT) AS votes
               FROM r WHERE rn <= 5 GROUP BY 1, 2),
         w AS (SELECT qid, label, votes,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS wrn
               FROM v)
         SELECT qid, label AS pred_label, votes FROM w WHERE wrn = 1
         ORDER BY qid""",
    "t30_segment_dedup" ->
      """WITH segs AS (
           SELECT doc_id, pos, seg FROM (
             SELECT doc_id, unnest(string_split(text, ' the ')) AS seg,
                    unnest(range(len(string_split(text, ' the ')))) AS pos
             FROM documents)
           WHERE trim(seg) <> ''),
         sel AS (SELECT doc_id, pos, seg,
                  ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
                 FROM segs),
         agg AS (SELECT doc_id, string_agg(seg, ' the ' ORDER BY pos) AS clean_text,
                  CAST(COUNT(*) AS BIGINT) AS n_kept
                 FROM sel WHERE rn = 1 GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg
                 FROM segs GROUP BY doc_id)
         SELECT a.doc_id, clean_text, n_seg, n_kept
         FROM agg a JOIN tot USING (doc_id) ORDER BY doc_id""",
    "t31_line_filter" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' the ') AS lines FROM documents),
         f AS (SELECT doc_id, lines,
                list_filter(lines, l ->
                  len(string_split_regex(trim(l), '[ \t\n\x0b\f\r]+')) >= 4
                  AND NOT contains(lower(l), 'slow')) AS kept
               FROM base)
         SELECT doc_id, array_to_string(kept, ' the ') AS clean_text,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept
         FROM f WHERE len(kept) >= 2 ORDER BY doc_id""",
    "t32_tfidf_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(w) AS term FROM ($TOKS_SQL)),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
                FROM tok GROUP BY 1, 2),
         dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
         s AS (SELECT doc_id, tf.term AS term, tf.tf AS tf,
                ROUND(tf.tf * ROUND(ln(nd / df), 6), 6) AS tfidf
               FROM tf JOIN dfq USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, tf, tfidf,
                CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term) AS INT) AS rnk
               FROM s)
         SELECT doc_id, term, tf, tfidf, rnk FROM r WHERE rnk <= 3
         ORDER BY doc_id, rnk""",
    "t36_bloom_decontaminate" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, sh FROM ($SHINGLES_SQL)),
         js AS (SELECT unnest([0, 1, 2, 3]) AS j),
         bpos AS (SELECT DISTINCT
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 15))::BIGINT
               % 65536 AS pos
           FROM (SELECT DISTINCT sh FROM sh WHERE doc_id < 50), js),
         probes AS (SELECT doc_id, sh, j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 15))::BIGINT
               % 65536 AS pos
           FROM sh, js WHERE doc_id >= 50),
         hits AS (SELECT doc_id, sh FROM probes JOIN bpos USING (pos)
                  GROUP BY doc_id, sh HAVING COUNT(*) = 4)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         FROM hits GROUP BY 1 HAVING COUNT(*) >= 1 ORDER BY 1""",
    "t35_shard_assign" ->
      """WITH h AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
           FROM documents)
         SELECT doc_id, CAST(u % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY u % 8 ORDER BY u, doc_id)
             AS BIGINT) AS seq
         FROM h ORDER BY doc_id""",
    "t33_pq_encode" ->
      s"""WITH $PQ_SQL
         SELECT vec_id, array_to_string(codes, ',') AS codes, err
         FROM enc ORDER BY vec_id""",
    "t42_pq_trained" ->
      s"""WITH $PQ_TRAINED_SQL
         SELECT vec_id, array_to_string(codes, ',') AS codes, err
         FROM tenc ORDER BY vec_id""",
    // mirrors Media.buildAvi's pixel rule r=g=b=(x*31+y*17+f*29)%256 and
    // syntheticAviVideos' geometry rule, while the Spark side decodes
    // the raw BI_RGB frames it actually built
    "t43_video_frames" -> FRAME_RULE_SQL,
    // full hashed-bigram LR mirror: 8 unrolled GD iterations + scoring
    "t63_quality_classifier" -> qcOracleSql(8),
    "t96_multiclass_classifier" ->
      multiQcOracleSql(Seq("de", "en", "es", "fr", "zh"), 4),
    // URL canonicalization + domain-cap mirror: same synthetic url
    // rule, same regex cascade (RE2-identical constructs), the FULL
    // public-suffix-list algorithm over the same bundled data file
    // Psl reads, and the t39 sampler shape for the cap
    "t62_domain_cap" -> {
      val denom = math.pow(2.0, 60)
      s"""WITH $URL_DM_CTES,
         cnt AS (SELECT domain, COUNT(*) AS cnt FROM dm
                 WHERE domain IS NOT NULL GROUP BY 1),
         hh AS (SELECT doc_id, domain,
             ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS uu
           FROM dm WHERE domain IS NOT NULL),
         f AS (SELECT hh.domain, doc_id, uu FROM hh JOIN cnt USING (domain)
           WHERE uu::DOUBLE / ($denom::DOUBLE)
             < LEAST(1.0::DOUBLE, 320.0::DOUBLE / cnt)),
         r AS (SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY domain ORDER BY uu, doc_id) AS rank
           FROM f),
         kept AS (SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM r
                  WHERE rank <= 40)
         SELECT dm.doc_id, dm.url_canon, dm.domain,
           (kept.rank IS NOT NULL) AS kept, kept.rank
         FROM dm LEFT JOIN kept USING (doc_id) ORDER BY dm.doc_id"""
    },
    // domain-diversity mirror: the URL/PSL chain supplies the domain
    // term, then t73's exact HLL register arithmetic over it
    "t93_domain_diversity" -> {
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val num = alpha * m.toDouble * m.toDouble * math.pow(2.0, 53)
      s"""WITH $URL_DM_CTES,
         dt AS (SELECT DISTINCT d.source, dm.domain AS t
           FROM dm JOIN documents d USING (doc_id)
           WHERE dm.domain IS NOT NULL),
         dh AS (SELECT source, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
           FROM dt),
         bb AS (SELECT source, h % 256 AS bucket, h // 256 AS w FROM dh),
         regs AS (SELECT source, bucket,
             MAX(CASE WHEN w = 0 THEN 53
                 ELSE CAST(ROUND(log2(w & -w)) AS INT) + 1 END) AS rho
           FROM bb GROUP BY 1, 2),
         agg AS (SELECT source, COUNT(*) AS nb,
             CAST(SUM(CAST(pow(2.0, 53 - rho) AS BIGINT)) AS BIGINT) AS s
           FROM regs GROUP BY 1),
         raw AS (SELECT source,
             $num / CAST(s + (256 - nb) * CAST(pow(2.0, 53) AS BIGINT)
               AS DOUBLE) AS raw,
             256 - nb AS v
           FROM agg),
         fin AS (SELECT source,
             ROUND(CASE WHEN raw <= 640.0 AND v > 0
               THEN 256.0 * ln(CAST(v AS DOUBLE) / 256) * -1.0
               ELSE raw END, 4) AS hll_est
           FROM raw),
         ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
           FROM dt GROUP BY 1),
         -- string-sensitive guard columns: HLL cardinality alone can't
         -- see WHICH domains the URL/PSL chain derived (the r11 drift
         -- that reddened t62/t87 left this mirror green)
         mm AS (SELECT source, MIN(t) AS domain_min, MAX(t) AS domain_max
           FROM dt GROUP BY 1)
         SELECT f.source, f.hll_est, e.exact_distinct,
           ROUND(ABS(f.hll_est - e.exact_distinct) / e.exact_distinct, 6)
             AS rel_err, mm.domain_min, mm.domain_max
         FROM fin f JOIN ex e USING (source) JOIN mm USING (source)
         ORDER BY source"""
    },

    // within-doc dedup mirror: same construction, literal split,
    // positional keep-first list filter (list_position over the
    // 1..i-1 prefix), blank drop, re-join
    "t92_within_doc_dedup" ->
      s"""WITH src AS (SELECT doc_id,
           'ACCEPT COOKIES to continue' || chr(10) || chr(10) ||
           'para one ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
           'ACCEPT COOKIES to continue' || chr(10) || chr(10) ||
           '  ' || chr(10) || chr(10) ||
           substr(text, 1, 40) || chr(10) || chr(10) ||
           'footer legal' || chr(10) || chr(10) || 'footer legal' AS ptext
         FROM documents),
       sp AS (SELECT doc_id,
           list_filter(string_split(ptext, chr(10) || chr(10)),
             x -> trim(x) <> '') AS nb
         FROM src),
       kp AS (SELECT doc_id, nb,
           -- COALESCE: pinned DuckDB 1.0.0 returns 0 for a not-found
           -- element, current DuckDB documents NULL — coalesce to 0 so
           -- the mirror survives an oracle-engine upgrade
           list_filter(nb, (x, i) ->
             COALESCE(list_position(nb[1:i-1], x), 0) = 0) AS kept
         FROM sp)
       SELECT doc_id,
         array_to_string(kept, chr(10) || chr(10)) AS clean_text,
         CAST(len(nb) AS BIGINT) AS n_seg,
         CAST(len(kept) AS BIGINT) AS n_kept
       FROM kp ORDER BY doc_id""",

    // ablation-cube mirror: same three signals, GROUP BY CUBE
    "t91_filter_ablation" ->
      s"""WITH sig AS (SELECT
           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) >= 60 AS len_ok,
           length(text) <= 2000 AS chars_ok,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             < CAST(length(text) AS DOUBLE) * 0.05 AS digits_ok
         FROM documents)
       SELECT len_ok, chars_ok, digits_ok,
         CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM sig GROUP BY CUBE (len_ok, chars_ok, digits_ok)
       ORDER BY len_ok, chars_ok, digits_ok""",

    // crawl-corpus mirror: WARC body by construction, then BOTH stage
    // cascades generated from their single sources (HtmlOps.Stages,
    // NormalizeOps.Stages) over a uniform one-column chain
    // flagship pipeline mirror: the t90 crawl cascade by construction,
    // the full t22 curation body over the crawl-derived docs, the t28
    // shingle-overlap decontamination (bench = every 17th raw doc),
    // the t86 budget machinery, the t24 bin window, and the t53
    // cluster-split — composed as one statement. Multi-referenced CTEs
    // are MATERIALIZED (the r10 semdedup lesson: DuckDB re-inlines
    // otherwise and the oracle budget blows up).
    "t94_crawl_pipeline" -> crawlPipelineSql,
    "t106_crawl_pipeline_pii" -> crawlPipelinePiiSql,

    "t90_crawl_corpus" -> {
      def sq(s: String) = s.replace("'", "''")
      def cascade(stages: Seq[(String, String, String)],
          prefix: String): String =
        stages.zipWithIndex.map { case ((_, pat, rep), i) =>
          s"""$prefix${i + 1} AS (SELECT doc_id,
               regexp_replace(t, '${sq(pat)}', '${sq(rep)}', 'g') AS t
             FROM $prefix$i)"""
        }.mkString(",\n       ")
      val hs = graft.text.HtmlOps.Stages
      val ns = graft.text.NormalizeOps.Stages
      s"""WITH h0 AS (SELECT doc_id,
           '<html><body>' || text || '</body></html>' AS t
         FROM documents),
       ${cascade(hs, "h")},
       n0 AS (SELECT doc_id, trim(t) AS t FROM h${hs.length}),
       ${cascade(ns, "n")}
       SELECT doc_id, trim(t) AS text FROM n${ns.length}
       ORDER BY doc_id"""
    },

    // main-content mirror: pre-clean/boundary/anchor/entity patterns
    // all interpolated from HtmlOps's single sources; blocks unnest to
    // rows, the same length/link-density rule filters, kept text
    // reassembles ordered with blank-line joins, zero-block docs keep
    // their row via the documents left join
    "t99_html_main_content" -> {
      def sq(x: String) = x.replace("'", "''")
      val block = sq(graft.text.HtmlOps.BlockBoundaryPattern)
      val anchor = sq(graft.text.HtmlOps.AnchorPattern)
      val preSql = graft.text.HtmlOps.Stages.take(3)
        .foldLeft("html") { case (acc, (_, pat, rep)) =>
          s"regexp_replace($acc, '${sq(pat)}', '${sq(rep)}', 'g')" }
      val entSql = graft.text.HtmlOps.EntityStages
        .foldLeft("txt") { case (acc, (_, pat, rep)) =>
          s"regexp_replace($acc, '${sq(pat)}', '${sq(rep)}', 'g')" }
      s"""WITH src AS (SELECT doc_id,
           '<html><head><title>T</title><script>var x = 1 < 2;</script></head><body>' ||
           '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>' ||
           '<p>Story &amp; analysis: ' || substr(text, 1, 100) ||
           ' tail of doc ' || CAST(doc_id AS VARCHAR) || '</p>' ||
           '<div>Read <a href="/m">more on this</a> plus plenty of surrounding prose to keep density low.</div>' ||
           '<aside><a href="/x">One</a> <a href="/y">Two</a> <a href="/z">Three links here</a></aside>' ||
           '<footer>(c) 2026 example</footer></body></html>' AS html
         FROM documents),
       seg AS (SELECT doc_id,
           string_split(regexp_replace($preSql, '$block', chr(1), 'g'),
             chr(1)) AS parts
         FROM src),
       blocks AS (SELECT doc_id, u.i AS bidx, parts[CAST(u.i AS INT)] AS b
         FROM seg, UNNEST(generate_series(1, len(parts))) AS u(i)),
       sc AS (SELECT doc_id, bidx,
           trim(regexp_replace(regexp_replace(b, '<[^>]+>', '', 'g'),
             '[ \\t\\r\\n]+', ' ', 'g')) AS t,
           trim(regexp_replace(regexp_replace(
             COALESCE(array_to_string(
               regexp_extract_all(b, '$anchor', 1), ' '), ''),
             '<[^>]+>', '', 'g'), '[ \\t\\r\\n]+', ' ', 'g')) AS lt
         FROM blocks),
       m AS (SELECT doc_id, bidx, t,
           length(t) AS len, length(lt) AS lc FROM sc),
       ne AS (SELECT * FROM m WHERE len > 0),
       ag AS (SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(COUNT(*) FILTER (WHERE len >= 25
             AND CAST(lc AS DOUBLE) <= 0.4 * len) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN len >= 25
               AND CAST(lc AS DOUBLE) <= 0.4 * len THEN t END,
             chr(10) || chr(10) ORDER BY bidx), '') AS txt
         FROM ne GROUP BY 1),
       fin AS (SELECT d.doc_id, COALESCE(ag.txt, '') AS txt,
           COALESCE(ag.n_blocks, 0) AS n_blocks,
           COALESCE(ag.n_kept, 0) AS n_kept
         FROM documents d LEFT JOIN ag USING (doc_id))
       SELECT doc_id, $entSql AS text_main, n_blocks, n_kept
       FROM fin ORDER BY doc_id"""
    },

    // abbreviation-aware mirror: the SAME protection alternation
    // (interpolated from DefaultAbbreviations, dots escaped once for
    // both engines) + chr(2) sentinel restored to a space per
    // sentence, then t89's boundary/split/reindex machinery
    "t98_sentence_abbrev" -> {
      val alt = graft.text.TextOps.DefaultAbbreviations
        .map(_.replace(".", "\\.")).mkString("|")
      s"""WITH src AS (SELECT doc_id,
           'Dr. Smith saw ' || substr(text, 1, 20) ||
           '. See Fig. 3 and e.g. doc ' || CAST(doc_id AS VARCHAR) ||
           '. No. 5 on the list, etc. More at the end! Done.' AS ptext
         FROM documents),
       g AS (SELECT doc_id,
           regexp_replace(ptext, '\\b($alt)\\.\\s+', '\\1.' || chr(2), 'g')
             AS gt
         FROM src),
       m AS (SELECT doc_id,
           regexp_replace(gt, '([.!?]+)\\s+', '\\1' || chr(1), 'g') AS mt
         FROM g),
       p AS (SELECT doc_id, string_split(mt, chr(1)) AS parts FROM m),
       e AS (SELECT doc_id, u.i AS raw_idx,
               trim(replace(parts[CAST(u.i AS INT)], chr(2), ' '))
                 AS sentence
             FROM p, unnest(generate_series(1, len(parts))) AS u(i)),
       f AS (SELECT doc_id, raw_idx, sentence,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY raw_idx) - 1 AS INT) AS sent_idx
             FROM e WHERE sentence <> '')
       SELECT doc_id, sent_idx, sentence,
         CAST(len(list_filter(string_split_regex(lower(sentence),
           '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
       FROM f ORDER BY doc_id, sent_idx"""
    },

    // sentence-split mirror: same boundary regex, \1-group + chr(1)
    // sentinel (DuckDB's spelling of Spark's $1), same trim/non-blank
    // filter and dense re-index
    "t89_sentence_split" ->
      s"""WITH src AS (SELECT doc_id,
           'First part. ' || substr(text, 1, 30) || '!! Then doc ' ||
           CAST(doc_id AS VARCHAR) || '?  And more...  tail bit' AS ptext
         FROM documents),
       m AS (SELECT doc_id,
           regexp_replace(ptext, '([.!?]+)\\s+', '\\1' || chr(1), 'g') AS mt
         FROM src),
       p AS (SELECT doc_id, string_split(mt, chr(1)) AS parts FROM m),
       e AS (SELECT doc_id, g.i AS raw_idx,
               trim(parts[CAST(g.i AS INT)]) AS sentence
             FROM p, unnest(generate_series(1, len(parts))) AS g(i)),
       f AS (SELECT doc_id, raw_idx, sentence,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY raw_idx) - 1 AS INT) AS sent_idx
             FROM e WHERE sentence <> '')
       SELECT doc_id, sent_idx, sentence,
         CAST(len(list_filter(string_split_regex(lower(sentence),
           '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
       FROM f ORDER BY doc_id, sent_idx""",

    // WARC mirror BY CONSTRUCTION: the builder's record layout is
    // deterministic, so every parsed field recomputes in SQL — lengths
    // are byte lengths (strlen) of the SAME strings, and the two
    // framing constants interpolate from the Warc object (one source)
    "t88_warc_parse" -> {
      val httpLen = graft.sources.Warc.HttpHead
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      val infoLen = graft.sources.Warc.WarcinfoBody
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      s"""WITH b AS (SELECT doc_id,
           '<html><body>' || text || '</body></html>' AS body
         FROM documents)
       SELECT doc_id AS warc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST($infoLen AS BIGINT) AS content_length,
         CAST(NULL AS INTEGER) AS http_status,
         CAST(NULL AS VARCHAR) AS body_text
       FROM b
       UNION ALL
       SELECT doc_id, 1, 'response',
         'https://example.com/doc/' || CAST(doc_id AS VARCHAR),
         CAST($httpLen + strlen(body) AS BIGINT), CAST(200 AS INTEGER), body
       FROM b
       ORDER BY warc_id, rec_idx"""
    },

    // blocklist mirror: same url/canonicalization/PSL chain, then a
    // registrable-domain NOT IN filter with null domains failing closed
    "t87_domain_filter" -> {
      s"""WITH $URL_DM_CTES
         SELECT doc_id, url_canon, domain FROM dm
         WHERE domain IS NOT NULL
           AND domain NOT IN ('site.co.uk', 'example.org')
         ORDER BY doc_id"""
    },

    // token-budget mirror: same tokenization, salted hash, prefilter
    // threshold and windowed running-sum arithmetic
    "t86_token_budget" -> {
      val denom = math.pow(2.0, 60)
      s"""WITH tk AS (SELECT doc_id, source,
           CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS BIGINT) AS n_tokens
         FROM documents),
       hh AS (SELECT *,
           ('0x' || substr(md5('tb:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS uu
         FROM tk),
       tot AS (SELECT source, SUM(n_tokens) AS tot FROM hh GROUP BY 1),
       f AS (SELECT hh.source, doc_id, n_tokens, uu
         FROM hh JOIN tot USING (source)
         WHERE uu::DOUBLE / ($denom::DOUBLE)
           < LEAST(1.0::DOUBLE, (8.0::DOUBLE * 600.0::DOUBLE) / tot)),
       cum AS (SELECT source, doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
             ORDER BY uu, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cum_before
         FROM f)
       SELECT source, doc_id, n_tokens, cum_before FROM cum
       WHERE cum_before < 600 ORDER BY source, doc_id"""
    },

    // full trained-BPE mirror: the training loop itself (12 unrolled
    // pair-count/argmax/merge iterations) AND the application fold,
    // both over the exact wrapped-symbol representation TextOps uses
    "t61_bpe_tokenize" -> bpeOracleSql(12),
    "t97_bpe_merges64" -> bpeOracleSql(64),
    "t109_bpe_greedy" -> bpeOracleSql(64),

    // candidate-histogram mirror: t12's banded-candidate + Jaccard
    // chain, binned at 0.05
    "t119_jaccard_histogram" ->
      s"""WITH mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2 * b} || ':' || h${2 * b + 1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "pairs")},
         sh AS (SELECT DISTINCT doc_id, sh FROM ($SHINGLES_SQL)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (SELECT p.a_id, p.b_id, COUNT(*) AS n_inter
           FROM pairs p
           JOIN sh sa ON sa.doc_id = p.a_id
           JOIN sh sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
           GROUP BY 1, 2),
         jac AS (SELECT p.a_id, p.b_id,
             ROUND(COALESCE(i.n_inter, 0)::DOUBLE /
               (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)), 6) AS jaccard
           FROM pairs p
           JOIN sizes na ON na.doc_id = p.a_id
           JOIN sizes nb ON nb.doc_id = p.b_id
           LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id)
         SELECT LEAST(CAST(FLOOR(jaccard * 20) AS BIGINT), 19) AS bin,
           ROUND(LEAST(CAST(FLOOR(jaccard * 20) AS BIGINT), 19) / 20.0, 2)
             AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM jac GROUP BY 1, 2 ORDER BY bin""",

    // IVF-recall mirror: the t11 IVF chain and the t07 exact chain,
    // intersected per query
    "t120_ivf_recall" ->
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 4),
         sc AS (SELECT d.vec_id, d.v, cell,
                 ROUND(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 4) AS sim
               FROM d, cent),
         idx AS (SELECT vec_id, v, cell FROM (
                 SELECT vec_id, v, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
                 FROM sc) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM d
               WHERE vec_id >= 4 AND vec_id < 7),
         qc AS (SELECT query_id, qv, cell,
                 list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
               FROM q, cent),
         probed AS (SELECT query_id, qv, cell FROM (
                 SELECT query_id, qv, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cell) AS rn
                 FROM qc) WHERE rn <= 2),
         cands AS (SELECT p.query_id, i.vec_id AS cand_id,
                 ROUND(list_dot_product(p.qv, i.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(i.v, i.v))), 4) AS score
               FROM idx i JOIN probed p USING (cell)
               WHERE i.vec_id <> p.query_id),
         ivf5 AS (SELECT query_id, cand_id FROM (
                 SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
                 FROM cands) WHERE rn <= 5),
         ep AS (SELECT query_id, vec_id AS cand_id,
                 ROUND(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS score
               FROM d, q WHERE vec_id <> query_id),
         ex5 AS (SELECT query_id, cand_id FROM (
                 SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
                 FROM ep) WHERE rn <= 5),
         hit AS (SELECT query_id, COUNT(*) AS c FROM ivf5
                 JOIN ex5 USING (query_id, cand_id) GROUP BY 1)
         SELECT q2.query_id,
           CAST(COALESCE(hit.c, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(hit.c, 0)::DOUBLE / 5.0, 6) AS recall_at_5
         FROM (SELECT DISTINCT query_id FROM ex5) q2
         LEFT JOIN hit USING (query_id) ORDER BY q2.query_id""",

    // word-list gate mirror: same token filter, fraction and keep rule
    "t117_wordlist_filter" ->
      s"""SELECT doc_id,
           CAST(len(list_filter(w, x -> x IN ('slow', 'stream', 'spill')))
             AS BIGINT) AS n_listed,
           CASE WHEN len(w) = 0 THEN NULL
                ELSE ROUND(len(list_filter(w,
                  x -> x IN ('slow', 'stream', 'spill')))::DOUBLE
                  / len(w), 6) END AS listed_frac
         FROM ($TOKS_SQL)
         WHERE len(w) = 0 OR ROUND(len(list_filter(w,
             x -> x IN ('slow', 'stream', 'spill')))::DOUBLE / len(w), 6)
           <= 0.08
         ORDER BY doc_id""",

    // encoding-hygiene mirror: same planted suffixes (chr() for the
    // unprintables), same occurrence-count regexes
    "t118_encoding_quality" -> {
      val repl = graft.text.TextOps.ReplacementCharPattern
      val ctrl = graft.text.TextOps.ControlCharPattern
      val moji = graft.text.TextOps.MojibakePattern
      s"""WITH src AS (SELECT doc_id, text ||
           (CASE WHEN doc_id % 4 = 0 THEN ' bad' || chr(65533) || 'char' ELSE '' END) ||
           (CASE WHEN doc_id % 6 = 0 THEN ' cafÃ©' ELSE '' END) ||
           (CASE WHEN doc_id % 9 = 0 THEN ' x' || chr(7) || 'y' ELSE '' END)
             AS ptext
         FROM documents)
         SELECT doc_id,
           CAST(length(ptext) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(ptext, '$repl')) AS BIGINT) AS n_replacement,
           CAST(len(regexp_extract_all(ptext, '$ctrl')) AS BIGINT) AS n_control,
           CAST(len(regexp_extract_all(ptext, '$moji')) AS BIGINT) AS n_mojibake,
           (len(regexp_extract_all(ptext, '$repl'))
             + len(regexp_extract_all(ptext, '$ctrl'))
             + len(regexp_extract_all(ptext, '$moji'))) <= 0 AS clean
         FROM src ORDER BY doc_id"""
    },

    // bench-contamination mirror: distinct 13-gram frames per side,
    // shingle join, per-bench-item distinct counts
    "t115_bench_contamination" ->
      s"""WITH cs AS (SELECT DISTINCT doc_id, sh FROM (
           SELECT doc_id, array_to_string(w[i:i+12], ' ') AS sh
           FROM (SELECT doc_id, w FROM ($TOKS_SQL) WHERE doc_id % 17 <> 0),
             UNNEST(generate_series(1, len(w) - 12)) AS u(i))),
         bs AS (SELECT DISTINCT doc_id AS bench_id, sh FROM (
           SELECT doc_id, array_to_string(w[i:i+12], ' ') AS sh
           FROM (SELECT doc_id, w FROM ($TOKS_SQL) WHERE doc_id % 17 = 0),
             UNNEST(generate_series(1, len(w) - 12)) AS u(i)))
         SELECT bench_id,
           CAST(COUNT(DISTINCT cs.doc_id) AS BIGINT) AS n_contaminating_docs,
           CAST(COUNT(DISTINCT bs.sh) AS BIGINT) AS n_shared_shingles
         FROM bs JOIN cs USING (sh)
         GROUP BY bench_id ORDER BY bench_id""",

    // packing-efficiency mirror: t24's cumsum-window bins rolled up
    // against the LP lower bound
    "t116_pack_efficiency" ->
      s"""WITH packed AS (
           SELECT source, doc_id, n_tok,
             CAST(FLOOR((cum - n_tok) / 512.0::DOUBLE) AS BIGINT) AS bin
           FROM (
             SELECT source, doc_id, CAST(len(w) AS BIGINT) AS n_tok,
               SUM(CAST(len(w) AS BIGINT))
                 OVER (PARTITION BY source ORDER BY doc_id) AS cum
             FROM (SELECT source, doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                   x -> x <> '') AS w
               FROM documents))),
         agg AS (SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(MAX(bin) + 1 AS BIGINT) AS bins_used
           FROM packed GROUP BY 1)
         SELECT source, n_docs, total_tokens, bins_used,
           CAST(CEIL(total_tokens::DOUBLE / 512.0) AS BIGINT) AS lower_bound,
           ROUND(CEIL(total_tokens::DOUBLE / 512.0) / bins_used::DOUBLE, 6)
             AS efficiency
         FROM agg ORDER BY source""",

    // atomic BFD packing mirror: the bin-fill recurrence replayed as a
    // recursive CTE, one doc per group per step
    "t131_pack_bestfit" ->
      s"""WITH RECURSIVE ${atomicPackCtes(128, 4)}
         SELECT source, shard, doc_id, n_tok, bin
         FROM pack WHERE r > 0 ORDER BY doc_id""",

    // atomic packing-efficiency mirror: next-fit and BFD bins per
    // source (summed over sub-shards) against the LP lower bound
    "t132_pack_efficiency_bfd" ->
      s"""WITH RECURSIVE ${atomicPackCtes(128, 4)},
         bfagg AS (SELECT source,
             CAST(SUM(b) AS BIGINT) AS bfd_bins,
             CAST(SUM(tk) AS BIGINT) AS total_tokens
           FROM (SELECT source, shard, MAX(bin) + 1 AS b,
               SUM(n_tok) AS tk
             FROM pack WHERE r > 0 GROUP BY 1, 2) GROUP BY 1),
         nfagg AS (SELECT source, CAST(SUM(b) AS BIGINT) AS nextfit_bins
           FROM (SELECT source, shard, MAX(bin) + 1 AS b
             FROM nfpack WHERE r > 0 GROUP BY 1, 2) GROUP BY 1)
         SELECT b.source, b.total_tokens,
           CAST(CEIL(b.total_tokens::DOUBLE / 128.0) AS BIGINT)
             AS lower_bound,
           n.nextfit_bins, b.bfd_bins,
           ROUND(CEIL(b.total_tokens::DOUBLE / 128.0)
             / n.nextfit_bins::DOUBLE, 6) AS efficiency_nextfit,
           ROUND(CEIL(b.total_tokens::DOUBLE / 128.0)
             / b.bfd_bins::DOUBLE, 6) AS efficiency_bfd
         FROM bfagg b JOIN nfagg n USING (source) ORDER BY b.source""",

    // fertility mirror: the full 12-merge training+application mirror
    // as a subquery, joined to word counts, rolled up per source
    "t113_bpe_fertility" ->
      s"""SELECT d.source,
           CAST(SUM(b.n_tokens) AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(tq.w)) AS BIGINT) AS words,
           ROUND(SUM(b.n_tokens)::DOUBLE / SUM(len(tq.w)), 6) AS fertility
         FROM (${bpeOracleSql(12)}) b
         JOIN documents d USING (doc_id)
         JOIN ($TOKS_SQL) tq ON tq.doc_id = b.doc_id
         GROUP BY d.source ORDER BY d.source""",

    // vocabulary-stats mirror: token counts per (source, token),
    // rank-by-count window for the top-10 mass, exact integer ratios
    "t114_vocab_stats" ->
      s"""WITH tok AS (SELECT source, unnest(w) AS t
           FROM ($TOKS_SQL) q JOIN documents d USING (doc_id)),
         counts AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         ranked AS (SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY c DESC, t) AS rk
           FROM counts),
         top10 AS (SELECT source, SUM(c) AS top10_mass FROM ranked
           WHERE rk <= 10 GROUP BY 1),
         agg AS (SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
           FROM counts GROUP BY 1)
         SELECT a.source, a.n_tokens, a.n_distinct, a.n_hapax,
           ROUND(a.n_distinct::DOUBLE / a.n_tokens, 6) AS ttr,
           ROUND(t.top10_mass::DOUBLE / a.n_tokens, 6) AS top10_frac
         FROM agg a JOIN top10 t USING (source) ORDER BY a.source""",

    // novelty mirror: same distinct-shingle frame, min-id first
    // occurrence, per-doc novel fraction
    "t112_ngram_novelty" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, sh FROM (
           SELECT doc_id, list_extract(w, i) || ' ' || list_extract(w, i+1) || ' ' ||
                  list_extract(w, i+2) AS sh
           FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS i
                 FROM ($TOKS_SQL)))),
         first AS (SELECT sh, MIN(doc_id) AS first_id FROM sh GROUP BY 1)
         SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(SUM(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS novelty
         FROM sh s JOIN first f USING (sh)
         GROUP BY s.doc_id ORDER BY s.doc_id""",

    // aHash near-dup mirror: the planted 60-bit pattern IS the hash
    // (both colors present => mean separates exactly), so the oracle
    // recomputes md5-base XOR member-mask per doc, re-runs the 16-bit
    // band join + bit_count(xor) verify, and resolves components with
    // the shared recursive-reach pattern
    "t111_image_ahash_dedup" -> plantedEnvelopeDedupSql("imgcls"),

    // audio-envelope near-dup mirror: same planted-pattern chain with
    // the audcls salt — the Spark side earns it through real WAV
    // bytes, javax.sound PCM decode, exact window RMS and 4-bit
    // quantization that provably reproduces the md5-derived pattern
    "t125_audio_envelope_dedup" -> plantedEnvelopeDedupSql("audcls"),

    // video-envelope near-dup mirror: vidcls salt — Spark earns it
    // through real ISO-BMFF bytes, the sample-table walk, raw RGB24
    // frame decode and per-frame mean-gray quantization
    "t126_video_envelope_dedup" -> plantedEnvelopeDedupSql("vidcls"),

    // funnel mirror: t122's planted image chain + curation chain, with
    // each stage's survivor set counted instead of projected
    "t128_multimodal_funnel" -> plantedFunnelSql("imgcls", "image_unique"),

    // the audio funnel mirror: audcls-planted envelope chain, same
    // shared funnel statement
    "t134_audio_funnel" -> plantedFunnelSql("audcls", "audio_unique"),

    // the video funnel mirror: vidcls-planted envelope chain
    "t135_video_funnel" -> plantedFunnelSql("vidcls", "video_unique"),

    // cross-modal mirror: t111's planted image chain and t14's text
    // candidate chain each resolve to per-modality cluster labels
    // FIRST, then one recursive-reach CC runs over the CONTRACTED
    // label graph (edge per id: its image label — its text label,
    // text labels namespaced by 2^40). Graph contraction is exact for
    // connected components, and the deep reach recursion sees label
    // clusters (size ≈ merged components / per-modality cluster size)
    // instead of raw id clusters — at sf1 the naive merged-edge reach
    // took 755 s (B^2 rows per merged cluster); this shape scales
    // with the contracted graph.
    "t127_cross_modal_dedup" ->
      s"""WITH RECURSIVE pat AS (SELECT doc_id,
           xor(('0x' || substr(md5('imgcls:' || CAST(doc_id // 5 AS VARCHAR)), 1, 15))::BIGINT,
               (1::BIGINT << CAST(doc_id % 5 AS INTEGER)) - 1) AS h
         FROM documents),
         ibands AS (SELECT doc_id, b, (h >> (16 * b)) & 65535 AS v
           FROM pat, (SELECT unnest(generate_series(0, 3)) AS b)),
         ${candPairsCtes("ibands", "icand", keys = Seq("b", "v"))},
         iverified AS (SELECT a_id, b_id FROM icand
           JOIN pat pa ON pa.doc_id = a_id
           JOIN pat pb ON pb.doc_id = b_id
           WHERE bit_count(xor(pa.h, pb.h)) <= 3),
         iedges AS (SELECT a_id, b_id FROM iverified
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM iverified),
         inodes AS (SELECT DISTINCT a_id AS id FROM iedges),
         ireach(id, r) AS (
           SELECT id, id AS r FROM inodes
           UNION
           SELECT e.a_id AS id, ireach.r FROM iedges e
           JOIN ireach ON ireach.id = e.b_id),
         icc AS (SELECT id, MIN(r) AS cluster FROM ireach GROUP BY id),
         mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2 * b} || ':' || h${2 * b + 1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "tcand")},
         tedges AS (SELECT a_id, b_id FROM tcand
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM tcand),
         tnodes AS (SELECT DISTINCT a_id AS id FROM tedges),
         treach(id, r) AS (
           SELECT id, id AS r FROM tnodes
           UNION
           SELECT e.a_id AS id, treach.r FROM tedges e
           JOIN treach ON treach.id = e.b_id),
         tcc AS (SELECT id, MIN(r) AS cluster FROM treach GROUP BY id),
         lab AS MATERIALIZED (SELECT d.doc_id,
             COALESCE(ic.cluster, d.doc_id) AS il,
             COALESCE(tc.cluster, d.doc_id) + (1::BIGINT << 40) AS tl
           FROM documents d
           LEFT JOIN icc ic ON ic.id = d.doc_id
           LEFT JOIN tcc tc ON tc.id = d.doc_id),
         ledge0 AS (SELECT DISTINCT il AS a_id, tl AS b_id FROM lab),
         ledges AS (SELECT a_id, b_id FROM ledge0
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM ledge0),
         lnodes AS (SELECT DISTINCT a_id AS id FROM ledges),
         lreach(id, r) AS (
           SELECT id, id AS r FROM lnodes
           UNION
           SELECT e.a_id AS id, lreach.r FROM ledges e
           JOIN lreach ON lreach.id = e.b_id),
         lcc AS (SELECT id, MIN(r) AS comp FROM lreach GROUP BY id),
         paired AS (SELECT DISTINCT a_id AS id FROM (
           SELECT a_id FROM iverified UNION ALL SELECT b_id FROM iverified
           UNION ALL SELECT a_id FROM tcand UNION ALL SELECT b_id FROM tcand) u(a_id)),
         merged AS (SELECT l.doc_id, c.comp FROM lab l
           JOIN lcc c ON c.id = l.il
           JOIN paired p ON p.id = l.doc_id)
         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY comp) AS cluster
         FROM merged ORDER BY doc_id""",

    // four-modality cross-modal mirror: t127's contracted-CC structure
    // with the audio (audcls) and video (vidcls) planted chains spliced
    // in as additional per-modality CC blocks; the label graph stars
    // each doc's audio/video/text labels through its image label (one
    // edge family per extra modality, namespaced by 2^40 multiples),
    // and the deep recursion again sees only label clusters
    "t133_cross_modal_all" ->
      s"""WITH RECURSIVE ${plantedCcCtes("imgcls", "i")},
         ${plantedCcCtes("audcls", "a")},
         ${plantedCcCtes("vidcls", "v")},
         mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2 * b} || ':' || h${2 * b + 1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         ${candPairsCtes("buckets", "tcand")},
         tedges AS (SELECT a_id, b_id FROM tcand
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM tcand),
         tnodes AS (SELECT DISTINCT a_id AS id FROM tedges),
         treach(id, r) AS (
           SELECT id, id AS r FROM tnodes
           UNION
           SELECT e.a_id AS id, treach.r FROM tedges e
           JOIN treach ON treach.id = e.b_id),
         tcc AS (SELECT id, MIN(r) AS cluster FROM treach GROUP BY id),
         lab AS MATERIALIZED (SELECT d.doc_id,
             COALESCE(ic.cluster, d.doc_id) AS il,
             COALESCE(ac.cluster, d.doc_id) + (1::BIGINT << 40) AS al,
             COALESCE(vc.cluster, d.doc_id) + (2::BIGINT << 40) AS vl,
             COALESCE(tc.cluster, d.doc_id) + (3::BIGINT << 40) AS tl
           FROM documents d
           LEFT JOIN icc ic ON ic.id = d.doc_id
           LEFT JOIN acc ac ON ac.id = d.doc_id
           LEFT JOIN vcc vc ON vc.id = d.doc_id
           LEFT JOIN tcc tc ON tc.id = d.doc_id),
         ledge0 AS (SELECT DISTINCT il AS a_id, al AS b_id FROM lab
           UNION SELECT DISTINCT il AS a_id, vl AS b_id FROM lab
           UNION SELECT DISTINCT il AS a_id, tl AS b_id FROM lab),
         ledges AS (SELECT a_id, b_id FROM ledge0
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM ledge0),
         lnodes AS (SELECT DISTINCT a_id AS id FROM ledges),
         lreach(id, r) AS (
           SELECT id, id AS r FROM lnodes
           UNION
           SELECT e.a_id AS id, lreach.r FROM ledges e
           JOIN lreach ON lreach.id = e.b_id),
         lcc AS (SELECT id, MIN(r) AS comp FROM lreach GROUP BY id),
         paired AS (SELECT DISTINCT a_id AS id FROM (
           SELECT a_id FROM iverified UNION ALL SELECT b_id FROM iverified
           UNION ALL SELECT a_id FROM averified UNION ALL SELECT b_id FROM averified
           UNION ALL SELECT a_id FROM vverified UNION ALL SELECT b_id FROM vverified
           UNION ALL SELECT a_id FROM tcand UNION ALL SELECT b_id FROM tcand) u(a_id)),
         merged AS (SELECT l.doc_id, c.comp FROM lab l
           JOIN lcc c ON c.id = l.il
           JOIN paired p ON p.id = l.doc_id)
         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY comp) AS cluster
         FROM merged ORDER BY doc_id""",

    // near-dup multimodal pipeline mirror: t111's planted-pattern
    // aHash chain (md5-rule pattern, 16-bit band candidates with the
    // shared hot-bucket cap, bit_count Hamming verify, recursive-reach
    // CC, min-id survivor) feeding t110's caption-curation chain
    // re-rooted at the surviving ids; ahash in the output is the
    // planted pattern the real decode provably reproduces
    "t122_multimodal_near_dup" -> plantedNearDupCurateSql("imgcls", "ahash"),

    // the audio edition: audcls-planted envelopes through the real PCM
    // path drive the near-dup stage; same shared mirror, afp output
    "t129_audio_near_dup_pipeline" ->
      plantedNearDupCurateSql("audcls", "afp"),

    // the video edition: vidcls-planted envelopes through the real
    // sample-table walk; same shared mirror, vfp output
    "t130_video_near_dup_pipeline" ->
      plantedNearDupCurateSql("vidcls", "vfp"),

    // audio-caption pipeline mirror: byte-dedup collapses to a GROUP BY
    // on the sample count (buildWav's payload is bijective with ns),
    // every PCM sample is recomputed from the synthetic byte rule
    // (t55's CTE re-rooted at the dedup survivors), the gate reruns on
    // the same 6-dp numbers, and the caption curation chain is the
    // shared [[curationCoreCtes]] block
    "t123_audio_caption_pipeline" ->
      s"""WITH RECURSIVE aud AS (SELECT doc_id,
           800 + length(text) % 8000 AS ns
           FROM documents WHERE doc_id % 2 = 1),
         akeep AS (SELECT MIN(doc_id) AS doc_id, ns FROM aud GROUP BY ns),
         smp AS (SELECT doc_id, ns,
             unnest(generate_series(0, ns - 1)) AS k FROM akeep),
         pcm AS (SELECT doc_id, CAST(k // 1000 AS INT) AS win_idx,
             CASE WHEN (((45 + 2*k)*17 + ns) % 256) >= 128
               THEN ((((45 + 2*k)*17 + ns) % 256) * 256
                     + (((44 + 2*k)*17 + ns) % 256)) - 65536
               ELSE (((45 + 2*k)*17 + ns) % 256) * 256
                     + (((44 + 2*k)*17 + ns) % 256) END AS v
           FROM smp),
         wins AS (SELECT doc_id, win_idx,
             ROUND(sqrt(SUM(v::BIGINT * v)::DOUBLE / COUNT(*)), 6) AS rms,
             MAX(ABS(v)) AS peak
           FROM pcm GROUP BY 1, 2),
         astat AS (SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             SUM(CAST(ROUND(rms * 1000000) AS BIGINT)) AS sm,
             CAST(MAX(peak) AS INT) AS peak
           FROM wins GROUP BY 1),
         gated AS (SELECT doc_id, n_windows,
             ((sm * 2 + n_windows) // (n_windows * 2)) / 1000000.0
               AS mean_rms, peak
           FROM astat
           WHERE n_windows >= 2
             AND ((sm * 2 + n_windows) // (n_windows * 2)) >= 1000000000),
         caps AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
           WHERE d.doc_id IN (SELECT doc_id FROM gated)),
         docs AS MATERIALIZED (SELECT c.doc_id, c.text FROM caps c
           WHERE c.doc_id IN (SELECT MIN(doc_id) FROM caps GROUP BY md5(text))),
         $curationCoreCtes
         SELECT d.doc_id, g.n_windows, g.mean_rms, g.peak,
           CAST(wf.n AS BIGINT) AS n_tokens
         FROM docs d
         JOIN gated g ON g.doc_id = d.doc_id
         JOIN wf ON wf.doc_id = d.doc_id
         JOIN lang ON lang.doc_id = d.doc_id
         WHERE $curationSurvivorWhere
         ORDER BY d.doc_id""",

    // video-caption pipeline mirror: byte-dedup collapses to a GROUP BY
    // on the geometry rule (buildMp4Frames' payload is bijective with
    // (w, h, nf)), per-frame means are t43's codec-free recompute
    // re-rooted at the dedup survivors, the frame gate reruns on the
    // same 6-dp numbers, then the shared curation chain
    "t124_video_caption_pipeline" ->
      s"""WITH RECURSIVE dims AS (SELECT doc_id, 8 + length(text) % 9 AS w,
           6 + doc_id % 7 AS h, 1 + doc_id % 3 AS nf FROM documents),
         vkeep AS (SELECT MIN(doc_id) AS doc_id, w, h, nf FROM dims
           GROUP BY w, h, nf),
         fr AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM vkeep),
         fx AS (SELECT doc_id, w, h, f, unnest(range(w)) AS x FROM fr),
         fxy AS (SELECT doc_id, w, h, f, x, unnest(range(h)) AS y FROM fx),
         fm AS (SELECT doc_id, f, w, h, ROUND(AVG(gr), 6) AS mean_gray
           FROM (SELECT doc_id, f, w, h,
                   0.299*v + 0.587*v + 0.114*v AS gr
                 FROM (SELECT *, CAST((x*31 + y*17 + f*29) % 256 AS DOUBLE) AS v
                       FROM fxy))
           GROUP BY doc_id, f, w, h),
         vstat AS (SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
             SUM(CAST(ROUND(mean_gray * 1000000) AS BIGINT)) AS sg
           FROM fm GROUP BY 1),
         gated AS (SELECT doc_id, n_frames, width, height,
             ((sg * 2 + n_frames) // (n_frames * 2)) / 1000000.0
               AS mean_gray
           FROM vstat
           WHERE n_frames >= 2
             AND ((sg * 2 + n_frames) // (n_frames * 2)) >= 20000000),
         caps AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
           WHERE d.doc_id IN (SELECT doc_id FROM gated)),
         docs AS MATERIALIZED (SELECT c.doc_id, c.text FROM caps c
           WHERE c.doc_id IN (SELECT MIN(doc_id) FROM caps GROUP BY md5(text))),
         $curationCoreCtes
         SELECT d.doc_id, g.n_frames, g.width, g.height, g.mean_gray,
           CAST(wf.n AS BIGINT) AS n_tokens
         FROM docs d
         JOIN gated g ON g.doc_id = d.doc_id
         JOIN wf ON wf.doc_id = d.doc_id
         JOIN lang ON lang.doc_id = d.doc_id
         WHERE $curationSurvivorWhere
         ORDER BY d.doc_id""",

    // multimodal pipeline mirror: image identity classes from the
    // construction rule (format from id parity, dimensions from
    // (id, caption length) — t18's rule), min-id survivor per class,
    // then the t22 curation chain re-rooted at the surviving captions,
    // finished with the class metadata + token counts
    "t110_multimodal_pipeline" ->
      s"""WITH RECURSIVE k AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(16 + length(text) % 41 AS INTEGER) AS width,
           CAST(12 + doc_id % 29 AS INTEGER) AS height
           FROM documents),
         imgkeep AS (SELECT MIN(doc_id) AS doc_id FROM k
           GROUP BY format, width, height),
         caps AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
           WHERE d.doc_id IN (SELECT doc_id FROM imgkeep)),
         docs AS MATERIALIZED (SELECT c.doc_id, c.text FROM caps c
           WHERE c.doc_id IN (SELECT MIN(doc_id) FROM caps GROUP BY md5(text))),
         $curationCoreCtes
         SELECT d.doc_id, k.format, k.width, k.height,
           CAST(wf.n AS BIGINT) AS n_tokens
         FROM docs d
         JOIN k ON k.doc_id = d.doc_id
         JOIN wf ON wf.doc_id = d.doc_id
         JOIN lang ON lang.doc_id = d.doc_id
         WHERE $curationSurvivorWhere
         ORDER BY d.doc_id""",
    // same geometry + pixel rules as t43 (buildMp4Frames mirrors
    // buildAvi's rule), exercised through the MP4 sample-table walk
    "t60_mp4_frames" -> FRAME_RULE_SQL,
    // same construction rule as t60 carried by a Matroska container —
    // the Spark side decodes V_UNCOMPRESSED SimpleBlocks instead of
    // `raw ` MP4 samples, the recompute is identical
    "t64_mkv_frames" -> FRAME_RULE_SQL,
    "t65_paragraph_dedup" -> PARAGRAPH_DEDUP_SQL,
    "t66_pii_redact" -> PII_REDACT_SQL,
    "t67_ivfpq_search" -> IVFPQ_SQL,
    // ADC shortlist re-ranked by exact cosine over the raw vectors
    "t84_rerank_exact" -> RERANK_SQL,
    // HLL mirror: same 60-bit md5 hash, low-8-bit bucket, trailing-
    // zero rank via the exact log2(w & -w), integer register sum,
    // identical float op sequence for the estimate branches
    "t73_hll_distinct" -> {
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val num = alpha * m.toDouble * m.toDouble * math.pow(2.0, 53)
      s"""WITH tk AS (SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS t FROM documents),
         dt AS (SELECT DISTINCT source, t FROM tk),
         h AS (SELECT source, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
           FROM dt),
         b AS (SELECT source, h % 256 AS bucket, h // 256 AS w FROM h),
         regs AS (SELECT source, bucket,
             MAX(CASE WHEN w = 0 THEN 53
                 ELSE CAST(ROUND(log2(w & -w)) AS INT) + 1 END) AS rho
           FROM b GROUP BY 1, 2),
         agg AS (SELECT source, COUNT(*) AS nb,
             CAST(SUM(CAST(pow(2.0, 53 - rho) AS BIGINT)) AS BIGINT) AS s
           FROM regs GROUP BY 1),
         raw AS (SELECT source,
             $num / CAST(s + (256 - nb) * CAST(pow(2.0, 53) AS BIGINT)
               AS DOUBLE) AS raw,
             256 - nb AS v
           FROM agg),
         fin AS (SELECT source,
             ROUND(CASE WHEN raw <= 640.0 AND v > 0
               THEN 256.0 * ln(CAST(v AS DOUBLE) / 256) * -1.0
               ELSE raw END, 4) AS hll_est
           FROM raw),
         ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
           FROM dt GROUP BY 1)
         SELECT f.source, f.hll_est, e.exact_distinct,
           ROUND(ABS(f.hll_est - e.exact_distinct) / e.exact_distinct, 6)
             AS rel_err
         FROM fin f JOIN ex e USING (source) ORDER BY source"""
    },

    // trailing-window HLL mirror: t73's register arithmetic with
    // day groups, user-id terms, and the 7-day register spread +
    // per-bucket max merge recomputed verbatim
    "t152_hll_trailing_window" -> {
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val num = alpha * m.toDouble * m.toDouble * math.pow(2.0, 53)
      s"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP))
             - (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000) AS day,
             user_id
           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         dt AS (SELECT DISTINCT day, user_id FROM e),
         h AS (SELECT day, ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
             1, 15))::BIGINT AS h FROM dt),
         b AS (SELECT day, h % 256 AS bucket, h // 256 AS w FROM h),
         regs AS (SELECT day, bucket,
             MAX(CASE WHEN w = 0 THEN 53
                 ELSE CAST(ROUND(log2(w & -w)) AS INT) + 1 END) AS rho
           FROM b GROUP BY 1, 2),
         sp AS (SELECT unnest(generate_series(day,
             day + 518400000000, 86400000000)) AS wday, bucket, rho
           FROM regs),
         mg AS (SELECT wday AS day, bucket, MAX(rho) AS rho
           FROM sp GROUP BY 1, 2),
         agg AS (SELECT day, COUNT(*) AS nb,
             CAST(SUM(CAST(pow(2.0, 53 - rho) AS BIGINT)) AS BIGINT) AS s
           FROM mg GROUP BY 1),
         raw AS (SELECT day,
             $num / CAST(s + (256 - nb) * CAST(pow(2.0, 53) AS BIGINT)
               AS DOUBLE) AS raw,
             256 - nb AS v
           FROM agg),
         fin AS (SELECT day,
             ROUND(CASE WHEN raw <= 640.0 AND v > 0
               THEN 256.0 * ln(CAST(v AS DOUBLE) / 256) * -1.0
               ELSE raw END, 4) AS hll_est
           FROM raw),
         spx AS (SELECT unnest(generate_series(day,
             day + 518400000000, 86400000000)) AS wday, user_id
           FROM dt),
         ex AS (SELECT wday AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
           FROM spx GROUP BY 1),
         dd AS (SELECT DISTINCT day FROM dt)
         SELECT f.day, f.hll_est, e2.exact_distinct,
           ROUND(ABS(f.hll_est - e2.exact_distinct) / e2.exact_distinct,
             6) AS rel_err
         FROM fin f JOIN ex e2 USING (day) JOIN dd USING (day)
         ORDER BY day"""
    },

    // moments mirror: same micro-unit components, exact integer sums,
    // n*Sxy - Sx*Sy numerator
    "t82_emb_moments" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         comp AS (SELECT vec_id, CAST(i AS INT) AS i,
             CAST(ROUND(v[CAST(i AS INT) + 1] * 1000000.0, 0) AS BIGINT)
               AS xm
           FROM (SELECT vec_id, v, unnest(range(len(v))) AS i FROM e)),
         p AS (SELECT a.i AS i, b.i AS j, a.xm AS xi, b.xm AS xj
           FROM comp a JOIN comp b
           ON a.vec_id = b.vec_id AND b.i >= a.i)
         SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xi) AS BIGINT) AS sum_i,
           CAST(COUNT(*) * SUM(xi * xj) - SUM(xi) * SUM(xj) AS BIGINT)
             AS cov_num
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""",

    // snapshot-diff mirror: same content-hash full outer join
    "t80_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents
           WHERE doc_id < 400),
         n AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2'
                 ELSE text END) AS h
           FROM documents WHERE doc_id >= 100)
         SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h = n.h THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",

    // drift mirror: same bucket hash, add-one smoothing, single
    // p * ln(p/q) * 1e6 op order, micro-nat integer sums
    "t81_token_drift" ->
      """WITH occ AS (SELECT source,
             ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS b
           FROM (SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS t FROM documents)),
         srcb AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM occ GROUP BY 1, 2),
         srcn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
           FROM occ GROUP BY 1),
         allb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS call
           FROM occ GROUP BY 1),
         alln AS (SELECT CAST(COUNT(*) AS BIGINT) AS nall FROM occ),
         grid AS (SELECT s.source, s.n, g.b
           FROM srcn s, (SELECT unnest(range(64)) AS b) g),
         j AS (SELECT grid.source, grid.n,
             COALESCE(sb.c, 0) AS c, COALESCE(ab.call, 0) AS call,
             (SELECT nall FROM alln) AS nall
           FROM grid
           LEFT JOIN srcb sb ON sb.source = grid.source AND sb.b = grid.b
           LEFT JOIN allb ab ON ab.b = grid.b),
         tm AS (SELECT source, n,
             CAST(ROUND(((c + 1)::DOUBLE / (n + 64)::DOUBLE)
               * ln(((c + 1)::DOUBLE / (n + 64)::DOUBLE)
                 / ((call + 1)::DOUBLE / (nall + 64)::DOUBLE))
               * 1000000.0, 0) AS BIGINT) AS tmic
           FROM j)
         SELECT source, MAX(n) AS n_tokens,
           CAST(SUM(tmic) AS BIGINT) AS kl_micro
         FROM tm GROUP BY source ORDER BY source""",

    // script-detection mirror: counts/dominance generated from
    // TextOps.ScriptClasses (one range source), chr()-planted corpus
    "t79_script_detect" -> {
      val classes = TextOps.ScriptClasses
      val cnt = classes.map { case (n, cls) =>
        s"CAST(len(regexp_extract_all(ptext, '$cls')) AS BIGINT) AS n_$n"
      }.mkString(",\n           ")
      val names = classes.map(s => s"n_${s._1}")
      val best = s"GREATEST(${names.mkString(", ")})"
      val total = names.mkString(" + ")
      val domArms = classes.map { case (n, _) =>
        s"WHEN n_$n > 0 AND n_$n = $best THEN '$n'"
      }.mkString(" ")
      s"""WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 1 THEN
                  repeat(chr(1078), CAST(doc_id % 11 + 2 AS INT))
                WHEN doc_id % 7 = 2 THEN
                  text || ' ' || repeat(chr(20013), CAST(doc_id % 5 + 40 AS INT))
                WHEN doc_id % 7 = 3 THEN
                  repeat(chr(955), 5) || repeat(chr(1593), CAST(doc_id % 6 AS INT))
                ELSE text END AS ptext
         FROM documents),
       c AS (SELECT doc_id,
           $cnt
         FROM src)
       SELECT doc_id, ${names.mkString(", ")},
         CASE $domArms ELSE 'unknown' END AS script,
         ROUND(CASE WHEN $total = 0 THEN NULL
           ELSE CAST($best AS DOUBLE) / ($total) END, 6) AS script_frac
       FROM c ORDER BY doc_id"""
    },

    // HTML-extraction mirror: cascade generated from HtmlOps.Stages
    // (one pattern source, Java-regex/RE2 common dialect), same
    // synthetic markup construction
    "t85_html_extract" -> {
      def sq(s: String) = s.replace("'", "''")
      val stages = graft.text.HtmlOps.Stages
      val cascade = stages.zipWithIndex.map { case ((_, pat, rep), i) =>
        s"""s${i + 1} AS (SELECT doc_id, h,
             regexp_replace(t$i, '${sq(pat)}', '${sq(rep)}', 'g')
               AS t${i + 1} FROM s$i)"""
      }.mkString(",\n       ")
      s"""WITH src AS (SELECT doc_id,
           '<html><head><title>T</title>' ||
           '<script type="text/javascript">var x = 1 < 2;</script>' ||
           '<style>p { color: red }</style></head><body>' ||
           '<!-- id ' || CAST(doc_id AS VARCHAR) || ' --><h1>Doc ' ||
           CAST(doc_id AS VARCHAR) || '</h1><p class="lead">' ||
           substr(text, 1, 40) ||
           ' &amp; more &lt;tags&gt; &quot;q&quot; it&#39;s&nbsp;here<br/></p>' ||
           CASE WHEN doc_id % 3 = 0 THEN '<ul><li>a</li><li>b</li></ul>'
                ELSE '<div>block</div>' END ||
           '</body></html>' AS h
         FROM documents),
       s0 AS (SELECT doc_id, h, h AS t0 FROM src),
       $cascade
       SELECT doc_id, trim(t${stages.length}) AS text_html,
         trim(t${stages.length}) <> h AS changed
       FROM s${stages.length} ORDER BY doc_id"""
    },

    // NFC/NFKC mirror BY CONSTRUCTION: no SQL Normalizer exists, so
    // the oracle rebuilds each fixture's KNOWN normal form literally
    // from codepoints — U+0065 U+0301 composes to U+00E9, U+212B
    // composes to U+00C5, and the NFKC-only compatibility folds
    // (U+FB01 -> fi, U+FF21 -> A, U+2460 -> 1, U+00B2 -> 2)
    "t83_unicode_normalize" -> {
      s"""WITH src AS (SELECT doc_id, CAST(doc_id % 7 AS INT) AS m,
           'base ' || CAST(doc_id AS VARCHAR) || ' ' AS pre
         FROM documents)
       SELECT doc_id,
         pre || CASE m WHEN 0 THEN chr(233) || 'clair'
                       WHEN 1 THEN chr(197) || 'ngstrom'
                       WHEN 2 THEN chr(64257) || 'le'
                       WHEN 3 THEN chr(65313) || 'BC'
                       WHEN 4 THEN chr(9312) || ' step'
                       WHEN 5 THEN 'x' || chr(178)
                       ELSE 'plain' END AS nfc,
         pre || CASE m WHEN 0 THEN chr(233) || 'clair'
                       WHEN 1 THEN chr(197) || 'ngstrom'
                       WHEN 2 THEN 'file'
                       WHEN 3 THEN 'ABC'
                       WHEN 4 THEN '1 step'
                       WHEN 5 THEN 'x2'
                       ELSE 'plain' END AS nfkc,
         m IN (0, 1) AS changed_nfc,
         m <= 5 AS changed_nfkc
       FROM src ORDER BY doc_id"""
    },

    // normalization mirror: cascade generated from NormalizeOps.Stages
    // (one pattern source), construction-rule ptext via chr() codes
    "t78_normalize_text" -> {
      def sq(s: String) = s.replace("'", "''")
      val stages = graft.text.NormalizeOps.Stages
      val cascade = stages.zipWithIndex.map { case ((_, pat, rep), i) =>
        s"""s${i + 1} AS (SELECT doc_id, ptext,
             regexp_replace(t$i, '${sq(pat)}', '${sq(rep)}', 'g')
               AS t${i + 1} FROM s$i)"""
      }.mkString(",\n       ")
      s"""WITH src AS (SELECT doc_id,
           '  ' || chr(8220) || 'q' || chr(8221) || ' '
           || CAST(doc_id AS VARCHAR)
           || chr(8216) || 'a' || chr(8217) || chr(160) || 'b '
           || chr(8211) || ' c' || chr(13) || chr(10) || 'd' || chr(7)
           || 'e'
           || CASE WHEN doc_id % 3 = 0 THEN repeat(chr(10), 4)
                   ELSE chr(9) || ' ' || chr(9) END
           || 'f' || chr(8230) || '   g  ' AS ptext
         FROM documents),
       s0 AS (SELECT doc_id, ptext, ptext AS t0 FROM src),
       $cascade
       SELECT doc_id, trim(t${stages.length}) AS text_norm,
         trim(t${stages.length}) <> ptext AS changed
       FROM s${stages.length} ORDER BY doc_id"""
    },

    // histogram-quantile mirror: same exact-integer log2 bucketing
    // (length of the base-2 string), cumulative window, rank filter
    // and in-bucket interpolation, one arm per quantile point
    "t77_hist_quantiles" -> {
      def arm(f: Double): String = {
        val micro = math.round(f * 1000000.0)
        s"""SELECT source, ${micro / 1000000.0}::DOUBLE AS frac,
           ROUND(vmin + CAST(vmax - vmin AS DOUBLE)
             * CAST(rank - (cum - n) - 1 AS DOUBLE)
             / CAST(GREATEST(n - 1, 1) AS DOUBLE), 4) AS est
           FROM (SELECT *,
               GREATEST(CAST(CEIL(total * $micro / 1000000.0) AS BIGINT),
                 1) AS rank
             FROM cum)
           WHERE cum >= rank AND cum - n < rank"""
      }
      s"""WITH v AS (SELECT source, CAST(length(text) AS BIGINT) AS v
           FROM documents),
         b AS (SELECT source, CAST(length(bin(v)) - 1 AS INT) AS bucket, v
           FROM v WHERE v > 0),
         regs AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(v) AS vmin, MAX(v) AS vmax
           FROM b GROUP BY 1, 2),
         cum AS (SELECT *,
             SUM(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
             SUM(n) OVER (PARTITION BY source) AS total
           FROM regs)
         ${Seq(0.25, 0.5, 0.75, 0.99).map(arm).mkString(" UNION ALL ")}
         ORDER BY source, frac"""
    },

    // count-min mirror: same per-row salted cell hashes (unrolled),
    // same register agg and min-over-rows probe
    "t76_cms_counts" -> {
      def cellSql(i: Int, t: String) =
        s"('0x' || substr(md5('cms$i:' || $t), 1, 15))::BIGINT % 1024"
      val rcArms = (0 until 4).map(i =>
        s"SELECT $i AS row, ${cellSql(i, "t")} AS cell FROM tk")
        .mkString(" UNION ALL ")
      val pcArms = (0 until 4).map(i =>
        s"SELECT t, $i AS row, ${cellSql(i, "t")} AS cell FROM probe")
        .mkString(" UNION ALL ")
      s"""WITH tk AS (SELECT
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS t FROM documents),
         rc AS ($rcArms),
         regs AS (SELECT row, cell, CAST(COUNT(*) AS BIGINT) AS n
           FROM rc GROUP BY 1, 2),
         probe AS (SELECT DISTINCT
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS t
           FROM documents WHERE doc_id < 10),
         pc AS ($pcArms),
         est AS (SELECT t, MIN(COALESCE(n, 0)) AS cms_est
           FROM pc LEFT JOIN regs USING (row, cell) GROUP BY t),
         ex AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_n
           FROM tk GROUP BY t)
         SELECT e.t, e.cms_est, x.exact_n, e.cms_est - x.exact_n AS over
         FROM est e JOIN ex x USING (t) ORDER BY t"""
    },

    // data-card mirror: same token/char projection, GROUP BY ROLLUP,
    // COALESCE(source,'ALL') label
    "t74_corpus_stats" ->
      """WITH d AS (SELECT source,
           CAST(len(list_filter(string_split_regex(lower(COALESCE(text, '')),
             '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n,
           CAST(length(COALESCE(text, '')) AS BIGINT) AS c
         FROM documents)
         SELECT COALESCE(source, 'ALL') AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n) AS BIGINT)::DOUBLE / COUNT(*), 6) AS avg_tokens,
           MAX(n) AS max_tokens,
           CAST(SUM(c) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(CASE WHEN n < 50 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
             / COUNT(*), 6) AS short_frac,
           ROUND(CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
             / COUNT(*), 6) AS empty_frac
         FROM d GROUP BY ROLLUP(source) ORDER BY 1""",

    // incremental-dedup mirror: t05's bucket arithmetic split at
    // doc_id 250, t14's recursive-CTE reachability for the
    // within-batch clusters
    "t72_dedup_against_corpus" ->
      s"""WITH RECURSIVE mh AS ($MH_SQL),
         buckets AS (
           ${(0 until 4).map(b =>
             s"SELECT doc_id, md5('b$b:' || h${2*b} || ':' || h${2*b+1}) AS bucket FROM mh")
             .mkString(" UNION ALL ")}),
         idx AS (SELECT DISTINCT bucket FROM buckets WHERE doc_id < 250),
         newb AS (SELECT doc_id, bucket FROM buckets WHERE doc_id >= 250),
         clash AS (SELECT DISTINCT doc_id FROM newb
           WHERE bucket IN (SELECT bucket FROM idx)),
         fresh AS (SELECT doc_id, bucket FROM newb
           WHERE doc_id NOT IN (SELECT doc_id FROM clash)),
         ${candPairsCtes("fresh", "pairs")},
         edges AS (SELECT a_id, b_id FROM pairs
           UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM pairs),
         nodes AS (SELECT DISTINCT a_id AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id AS r FROM nodes
           UNION
           SELECT e.a_id AS id, reach.r FROM edges e
           JOIN reach ON reach.id = e.b_id),
         cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         SELECT doc_id FROM documents
         WHERE doc_id >= 250
           AND doc_id NOT IN (SELECT doc_id FROM clash)
           AND doc_id NOT IN (SELECT id FROM cl WHERE id <> cluster)
         ORDER BY doc_id""",

    // hashing-trick mirror: same salted md5 bucket/sign arithmetic,
    // exact integer sum-of-squares norm, same /norm*1e6 micro rounding
    "t71_hash_embed" ->
      s"""WITH bg AS ($BIGRAMS_SQL),
         hb AS (SELECT doc_id,
             ('0x' || substr(md5('he:' || sh), 1, 15))::BIGINT % 16 AS b,
             (('0x' || substr(md5('hs:' || sh), 1, 15))::BIGINT % 2) * 2 - 1 AS s
           FROM bg),
         sums AS (SELECT doc_id, b, CAST(SUM(s) AS BIGINT) AS v
           FROM hb GROUP BY 1, 2),
         grid AS (SELECT doc_id, unnest(range(16)) AS i
           FROM (SELECT DISTINCT doc_id FROM sums)),
         dense AS (SELECT g.doc_id, g.i, COALESCE(s.v, 0) AS v
           FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.i),
         nrm AS (SELECT doc_id, ROUND(sqrt(CAST(SUM(v*v) AS DOUBLE)), 6) + 0.0
             AS norm
           FROM dense GROUP BY doc_id)
         SELECT de.doc_id,
           array_to_string(list(
             CAST(ROUND(de.v::DOUBLE / n.norm * 1000000.0, 0) AS BIGINT)
             ORDER BY de.i), ',') AS emb,
           n.norm
         FROM dense de JOIN nrm n USING (doc_id)
         WHERE n.norm > 0
         GROUP BY de.doc_id, n.norm ORDER BY de.doc_id""",
    // soft-sampling mirror: t02's token frame for the keep
    // probability, t23's u-hash with the "q:" salt
    "t70_quality_sample" -> {
      val denom = math.pow(16.0, 15)
      s"""WITH tk AS (SELECT doc_id, len(w) AS nt,
             len(list_distinct(w)) AS nd FROM ($TOKS_SQL)),
         p AS (SELECT doc_id, nd::DOUBLE / nt AS p FROM tk)
         SELECT doc_id, p FROM p
         WHERE ('0x' || substr(md5('q:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::DOUBLE
               / ($denom::DOUBLE)
             < GREATEST(0.0::DOUBLE, LEAST(1.0::DOUBLE, COALESCE(p, 0.0)))
         ORDER BY doc_id"""
    },
    // shared assign/residual CTEs with t67; stats from exact integer
    // sums (BIGINT squares fit: dm <= 4e6 -> dm^2 <= 1.6e13; DuckDB
    // sums BIGINT into HUGEINT), double conversion once, z^2 = 2.25
    "t69_embedding_outliers" ->
      s"""WITH $IVF_RES_CTES,
         dd AS (SELECT vec_id, cell,
             CAST(ROUND(ROUND(list_dot_product(r, r), 6) * 1000000.0, 0)
               AS BIGINT) AS dm
           FROM res),
         st AS (SELECT cell, COUNT(*)::DOUBLE AS n, SUM(dm)::DOUBLE AS s,
             SUM(dm*dm)::DOUBLE AS ss
           FROM dd GROUP BY cell)
         SELECT vec_id, cell, dm::DOUBLE / 1000000.0 AS d2,
           ((dm::DOUBLE - s/n) > 0 AND
            (dm::DOUBLE - s/n)*(dm::DOUBLE - s/n) >
              2.25*(ss/n - (s/n)*(s/n))) AS is_outlier
         FROM dd JOIN st USING (cell) ORDER BY vec_id""",
    "t34_pq_adc" ->
      s"""WITH $PQ_SQL,
         q AS (SELECT vec_id AS query_id, sub_idx, sv AS qsv FROM sub
               WHERE vec_id BETWEEN 16 AND 18),
         lut AS (SELECT query_id, sub_idx, code_id,
                  ROUND(list_dot_product(qsv, qsv) - 2.0*list_dot_product(qsv, cv)
                    + list_dot_product(cv, cv), 6) + 0.0 AS d2
                 FROM q JOIN cb USING (sub_idx)),
         ex AS (SELECT vec_id AS cand_id, unnest(codes) AS code_id,
                 unnest(range(4)) AS sub_idx FROM enc),
         ad AS (SELECT query_id, cand_id, ROUND(SUM(d2), 6) + 0.0 AS adist
                FROM ex JOIN lut USING (sub_idx, code_id)
                WHERE cand_id <> query_id GROUP BY 1, 2),
         r AS (SELECT query_id, cand_id, adist,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adist, cand_id) AS rn
               FROM ad)
         SELECT query_id, cand_id, adist FROM r WHERE rn <= 5
         ORDER BY query_id, cand_id"""
  ) ++ Map(
    // chunking mirror: same token list, stride-12 starts, 16-token slices
    "t38_chunk_documents" ->
      s"""WITH tk AS (SELECT doc_id, w, len(w) AS nt
             FROM ($TOKS_SQL) WHERE len(w) > 0),
         ch AS (SELECT doc_id, w,
             CAST(unnest(range((nt - 1) // 12 + 1)) AS BIGINT) AS chunk_id
           FROM tk)
         SELECT doc_id, chunk_id,
           CAST(len(list_slice(w, chunk_id*12 + 1, chunk_id*12 + 16)) AS BIGINT)
             AS n_tok,
           array_to_string(list_slice(w, chunk_id*12 + 1, chunk_id*12 + 16), ' ')
             AS chunk_text
         FROM ch ORDER BY doc_id, chunk_id""",

    // stratified-sample mirror: same salted 60-bit hash, count-derived
    // keep threshold (oversample*k/cnt), rank among survivors
    "t39_stratified_sample" -> {
      val denom = math.pow(2.0, 60)
      s"""WITH h AS (SELECT source, doc_id,
             ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
           FROM documents),
         c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
         f AS (SELECT h.source, doc_id, u FROM h JOIN c USING (source)
           WHERE u::DOUBLE / ($denom::DOUBLE)
             < LEAST(1.0::DOUBLE, 10.0::DOUBLE / cnt)),
         r AS (SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, doc_id) AS rank
           FROM f)
         SELECT source, doc_id, CAST(rank AS BIGINT) AS rank FROM r
         WHERE rank <= 5 ORDER BY source, rank"""
    },

    // LM-score mirror: bigram/head counts on the reference half, vocab V,
    // per-bigram 6-dp rounded bits, then the per-doc mean
    "t40_lm_score" ->
      s"""WITH $LM_SCORE_CTES
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           (SUM(micro)::DOUBLE / COUNT(*)) / 1000000.0 AS lm_bits
         FROM sc GROUP BY 1 ORDER BY 1""",

    // t40's LM pipeline + per-source quartile bucketing: micro-bit
    // doc scores (the SAME /1e6 then *1e6 round sequence as the Spark
    // side), quantile_cont at the exact binary fractions 0.25/0.75
    "t68_perplexity_buckets" ->
      s"""WITH $LM_SCORE_CTES,
         lmout AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(ROUND(((SUM(micro)::DOUBLE / COUNT(*)) / 1000000.0)
               * 1000000.0, 0) AS BIGINT) AS dmicro
           FROM sc GROUP BY 1),
         ws AS (SELECT l.doc_id, l.n_bigrams, l.dmicro, d.source
           FROM lmout l JOIN documents d USING (doc_id)),
         cuts AS (SELECT source, quantile_cont(dmicro, 0.25) AS lo,
             quantile_cont(dmicro, 0.75) AS hi
           FROM ws GROUP BY source)
         SELECT doc_id, source, n_bigrams,
           dmicro::DOUBLE / 1000000.0 AS lm_bits,
           CASE WHEN dmicro <= lo THEN 'head'
                WHEN dmicro > hi THEN 'tail'
                ELSE 'middle' END AS bucket
         FROM ws JOIN cuts USING (source) ORDER BY doc_id"""
  )

  /** Shared CTE block for t40/t68: per-bigram micro-bit contributions
    * of the target half against the reference half's bigram LM. */
  private lazy val LM_SCORE_CTES: String =
    s"""bg AS ($BIGRAMS_SQL),
       ref AS (SELECT * FROM bg WHERE doc_id < 250),
       tgt AS (SELECT * FROM bg WHERE doc_id >= 250),
       cb AS (SELECT sh, COUNT(*) AS cb FROM ref GROUP BY 1),
       cu AS (SELECT w1, COUNT(*) AS cu FROM ref GROUP BY 1),
       v AS (SELECT CAST(COUNT(DISTINCT x) AS DOUBLE) AS v
         FROM (SELECT unnest(w) AS x FROM ($TOKS_SQL) WHERE doc_id < 250)),
       sc AS (SELECT t.doc_id,
           CAST(ROUND(ROUND(ln((COALESCE(cu.cu, 0) + 0.1 * v.v)
             / (COALESCE(cb.cb, 0) + 0.1)) / ln(2.0), 6) * 1000000.0, 0)
             AS BIGINT) AS micro
         FROM tgt t LEFT JOIN cb USING (sh) LEFT JOIN cu USING (w1)
         CROSS JOIN v)"""
}
