package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sim.Similarity
import graft.text.TextOps

/** Scale-step evidence: wall, jobs, tasks and shuffle bytes of library
  * operators at multiples of the sf corpus, the growth curves behind
  * the BASELINE.md "no scale-killer" tables. Suites:
  *
  *  - `curate`: [[TextOps.curateCorpus]] end to end.
  *  - `pipeline`: the composed t94 crawl-to-shards pipeline (WARC build
  *    -> record walk -> HTML extract -> curate -> decontaminate ->
  *    token budget -> pack -> leak-safe split), whose lineage and
  *    checkpoint bugs live in the seams between stages. The token
  *    budget scales with the corpus (500 tokens a document) so the
  *    budget stage never truncates every step to the same prefix.
  *  - `dedup`: the round-5..10 document and embedding operators.
  *  - `r11`: the t100-t104 operators (KMV sketches, weighted sample,
  *    normalized exact dedup, boilerplate removal, mixture allocation,
  *    the two near-dup survivor conventions).
  *  - `export`: the three named-shard sinks, emitted MB and MB/s, at
  *    each shard count given (default 16).
  *  - `bpe`: trained-BPE train/apply cost at each merge count given
  *    (default 16 64 256), then at realistic depth on a hex corpus.
  *  - `unigram`: unigram apply cost against vocabulary size (padded
  *    with never-matching pieces) and against maxPieceLen.
  *
  * The corpus-suite inputs are [[replicate]]d and checkpointed before
  * timing, and every operator runs once, untimed, on the 1x corpus
  * first so no step is charged JIT or codegen warm-up.
  *
  * Usage: runMain graft.tools.ScaleStep <suite> [sfDir] [copies...]
  */
object ScaleStep {
  /** Copy `c` of a document corpus: `doc_id` shifted by `c * offset`;
    * copy 0 is the original, and in every later copy 90 % of rows get a
    * per-copy suffix word while rows with `doc_id % 10 == 0` stay
    * byte-identical — so near-dup groups survive and exact dedup keeps
    * real work at every scale. The suffix has no " the " separator, so
    * a variant still shares all but its last segment with its base. */
  def copyOf(docs: DataFrame, c: Int, offset: Long = 1000000L): DataFrame =
    if (c == 0) docs
    else docs.withColumn("text", when(col("doc_id") % 10 === 0, col("text"))
        .otherwise(concat(col("text"), lit(s" copyvariant$c"))))
      .withColumn("doc_id", col("doc_id") + lit(c * offset))

  /** `copies` copies of a document corpus, by [[copyOf]]. */
  def replicate(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map(copyOf(docs, _)).reduce(_ unionByName _)

  /** `copies` copies of an embedding table: copy c shifts `vec_id` and
    * dimension 0 by `c * 0.01`, distinct but clustered vectors. */
  def replicateEmb(emb: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { c =>
      if (c == 0) emb
      else emb.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(c * 0.01f)).otherwise(x))
          .as("embedding"))
    }.reduce(_ unionByName _)

  /** The adversarial one-cell corpus for SemDeDup's |cell|^2 worst case:
    * every even `vec_id` collapses onto one tight cluster, so k-means
    * with an even seed puts ~50 % of all rows in ONE cell. */
  def skewed(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), when(col("vec_id") % 2 === 0,
        transform(col("embedding"), (x, i) => when(i === 0,
          (pmod(col("vec_id"), lit(997L)).cast("double") * 1e-6 + 0.9)
            .cast("float")).otherwise(lit(0.1f))))
      .otherwise(col("embedding")).as("embedding"))

  /** Operators over one kind of scaled input `I`, each listed once:
    * `build(k)` makes the checkpointed input from k corpus copies and
    * `rows` is its row count. */
  private final case class Group[I](build: Int => I, rows: I => Long,
      ops: Seq[(String, I => Long)]) {
    def warm(): Unit = { val in = build(1); ops.foreach(_._2(in)) }
    def step(k: Int, census: Census, tag: String): Unit = {
      val in = build(k)
      val n = rows(in)
      ops.foreach { case (label, op) =>
        val s = census.measure(label)(op(in))
        println(f"$tag op=$label%-18s copies=$k%3d rows=$n%8d out=${s.out}%8d " +
          s.scaleFields)
      }
    }
  }

  private final case class DocIn(docs: DataFrame, src: DataFrame, para: DataFrame)
  private final case class EmbIn(emb: DataFrame, cb: DataFrame,
      codes: DataFrame, sqStats: DataFrame, sqCodes: DataFrame,
      cents: DataFrame, res: DataFrame, rcb: DataFrame, ivfCodes: DataFrame) {
    def queries: DataFrame = emb.filter(col("vec_id") >= 16 && col("vec_id") < 19)
  }

  def main(args: Array[String]): Unit = {
    val suite = args.headOption.getOrElse("")
    val dir = Census.sfDir(args.lift(1))
    val steps = args.drop(2).map(_.toInt).toSeq
    def stepsOr(d: Int*) = if (steps.isEmpty) d else steps
    val spark = SparkEntry.localSession()
    val census = Census(spark)
    def docs(cols: String*): DataFrame = spark.read
      .parquet(s"$dir/documents.parquet").select(cols.map(col): _*)
    def runGroups(groups: Group[_]*): Unit = {
      groups.foreach(_.warm())
      val tag = s"${suite.toUpperCase}_SCALE"
      stepsOr(1, 3, 10).foreach(k => groups.foreach(_.step(k, census, tag)))
    }
    suite match {
      case "curate" => runGroups(curate(docs("doc_id", "text").localCheckpoint()))
      case "pipeline" =>
        runGroups(pipeline(docs("doc_id", "text", "source").localCheckpoint()))
      case "r11" => runGroups(r11(docs("doc_id", "text")
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(7L))))
        .localCheckpoint()))
      case "dedup" => runGroups(dedup(docs("doc_id", "text").localCheckpoint(),
        spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding").localCheckpoint()): _*)
      case "export" => exportSuite(
        docs("doc_id", "source", "text").localCheckpoint(), census, stepsOr(16))
      case "bpe" => bpe(spark, docs("doc_id", "text").localCheckpoint(),
        census, stepsOr(16, 64, 256))
      case "unigram" =>
        unigram(docs("doc_id", "text").localCheckpoint(), census)
      case _ => sys.error("usage: ScaleStep " +
        "curate|pipeline|dedup|r11|export|bpe|unigram [sfDir] [copies...]")
    }
    spark.stop()
  }

  private def curate(base: DataFrame) = Group[DataFrame](
    k => replicate(base, k).localCheckpoint(), _.count(),
    Seq("curate" -> (d => TextOps.curateCorpus(d, "doc_id", "text").count())))

  private def pipeline(base: DataFrame) = Group[(DataFrame, Long)](
    k => { val d = replicate(base, k).localCheckpoint(); (d, d.count()) },
    _._2,
    Seq[(String, ((DataFrame, Long)) => Long)](
      "crawl_to_shards" -> { case (docs, n) =>
        // single-file scans arrive as 1-2 tasks; the ingest chain
        // multiplies work per row — fan out first (t94 does the same)
        val warc = graft.sources.Warc.buildWarc(
          graft.util.FanOut(docs), "doc_id", "text")
        val bench = docs.filter(col("doc_id") % 17 === 0).select("doc_id", "text")
        graft.pipeline.Pipeline.crawlToShards(warc, "warc_id", "payload",
          docs.select("doc_id", "source"), bench, idCol = "doc_id",
          budgetTokens = n * 500L).count()
      }))

  private def r11(base: DataFrame) = {
    val tokenLen = size(TextOps.tokens(col("text")))
    // t107-shaped segments: per-source nav (always removed), promo by
    // doc parity (~50 %, removed), a ~17 % pool paragraph and the doc's
    // own text (kept); source = id % 7 is coprime to 6 and 2, so the
    // in-source frequencies hold at any scale
    def segDocs(d: DataFrame) = d.select(col("doc_id"), col("source"),
      concat_ws("\n\n", concat(lit("nav menu for "), col("source")),
        concat(lit("pool para "), (col("doc_id") % 6).cast("string")),
        concat(lit("promo banner "), (col("doc_id") % 2).cast("string")),
        col("text")).as("ptext"))
    Group[(DataFrame, DataFrame)](
      k => {
        val d = replicate(base, k).localCheckpoint()
        // one pair frame for both survivor conventions, so their delta
        // is exactly the selection policy, not the LSH chain
        val bux = TextOps.lshBuckets(TextOps.minhashSignature(
          d, "doc_id", "text", k = 8), "doc_id", k = 8, rows = 2).localCheckpoint()
        (d, TextOps.lshCandidatePairs(bux, "doc_id").localCheckpoint())
      },
      _._1.count(),
      Seq[(String, ((DataFrame, DataFrame)) => Long)](
        "kmv_sketch" -> { case (d, _) =>
          TextOps.kmvSketch(d, "source", "text", k = 256).count() },
        "kmv_overlap" -> { case (d, _) =>
          TextOps.kmvSourceOverlap(TextOps.kmvSketch(d, "source", "text",
            k = 256).localCheckpoint(), "source", k = 256).count() },
        "weighted_sample" -> { case (d, _) => TextOps.weightedSample(d,
          "doc_id", "source", tokenLen.cast("double"), k = 20).count() },
        "norm_exact_dedup" -> { case (d, _) =>
          TextOps.dropExactDuplicatesNormalized(d, "doc_id", "text").count() },
        // the hot set stays constant (nav x 7 + promo x 14) as docs grow
        "boilerplate_rm" -> { case (d, _) => TextOps.removeBoilerplateSegments(
          segDocs(d), "doc_id", "source", "ptext").count() },
        // one token-count pass; the water-filling runs on 7 source rows
        "mixture_alloc" -> { case (d, _) => TextOps.mixtureAllocate(d,
          "source", "text", pmod(substring(col("source"), 2, 5).cast("int"),
            lit(4)) + 1, budgetTokens = 100000L).count() },
        "neardup_min_id" -> { case (d, p) =>
          TextOps.dropNearDuplicates(d, "doc_id", p).count() },
        "neardup_best" -> { case (d, p) => TextOps.dropNearDuplicatesBy(d,
          "doc_id", p, tokenLen.cast("long")).count() }))
  }

  private def dedup(docs0: DataFrame, emb0: DataFrame): Seq[Group[_]] = {
    val docOps = Group[DocIn](
      k => {
        val d = replicate(docs0, k).localCheckpoint()
        DocIn(d,
          d.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(7L))))
            .localCheckpoint(),
          d.withColumn("text", regexp_replace(col("text"), " the ", "\n\n"))
            .localCheckpoint())
      },
      _.docs.count(),
      Seq[(String, DocIn => Long)](
        // near-worst-case input: almost every exploded segment is a
        // repeat the min-struct aggregate must collapse
        "segdedup" -> (in => TextOps.segmentDedup(in.docs, "doc_id", "text",
          sep = " the ").count()),
        // inherits the MinHash/LSH/CC chain on a duplicate-heavy corpus:
        // the candidate join must stay candidate-proportional
        "leak_split" -> (in => TextOps.leakSafeSplit(in.docs, "doc_id", "text",
          testFrac = 0.2).count()),
        "temp_sample" -> (in => TextOps.temperatureSample(in.src, "doc_id",
          "source", alpha = 0.5).count()),
        "para_dedup" -> (in =>
          TextOps.dedupParagraphs(in.para, "doc_id", "text").count()),
        "pii_redact" -> (in =>
          graft.text.PiiOps.redactPii(in.docs, "doc_id", "text").count()),
        "ppl_buckets" -> (in => TextOps.perplexityBuckets(
          in.docs.filter(col("doc_id") % 4 === 0),
          in.src.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", "source").count()),
        // the two sketches: output bounded by the sketch shape, wall ∝
        // the token stream
        "hll_registers" -> (in => TextOps.hllRegisters(in.src, "source",
          explode(TextOps.tokens(col("text")))).count()),
        "cms_registers" -> (in => TextOps.cmsRegisters(
          in.docs.select(explode(TextOps.tokens(col("text"))).as("t")),
          col("t")).count()),
        "data_card" -> (in =>
          TextOps.corpusStats(in.src, "doc_id", "text", "source").count()),
        "zorder_cells" -> (in => graft.ops.Layout.zorderCells(
          in.docs.select(col("doc_id"), length(col("text")).as("len")),
          "doc_id", "len", bits = 8).count()),
        "hist_registers" -> (in => TextOps.histRegisters(in.src, "source",
          length(col("text"))).count()),
        "token_drift" -> (in =>
          TextOps.tokenDrift(in.src, "doc_id", "text", "source").count()),
        // the crawl tier is narrow: wall should track bytes, ~0 shuffle
        "html_extract" -> (in => graft.text.HtmlOps.extractText(
          in.docs.select(col("doc_id"), concat(
            lit("<html><head><script>var x = 1 < 2;</script>" +
              "<style>p{}</style></head><body><h1>T</h1><p>"),
            col("text"),
            lit(" &amp; tail</p><div>b</div></body></html>")).as("h")),
          "doc_id", "h").count()),
        "warc_to_corpus" -> (in => graft.sources.Warc.toCorpus(
          graft.sources.Warc.buildWarc(in.docs, "doc_id", "text"),
          "warc_id", "payload").count()),
        "sentence_split" -> (in => TextOps.sentenceSplit(
          in.docs.select(col("doc_id"),
            concat(col("text"), lit(". End part! Tail?")).as("t")),
          "doc_id", "t").count()),
        "token_budget" -> (in => TextOps.tokenBudgetSample(in.src, "doc_id",
          "text", "source", budgetTokens = 5000).count())))

    // Search rows scan codes materialized before timing (the deployment
    // shape: codes are written once, scanned per query batch); each
    // encode is its own row.
    val embOps = Group[EmbIn](
      k => {
        val emb = replicateEmb(emb0, k).localCheckpoint()
        val cb = Similarity.pqCodebook(emb.filter(col("vec_id") < 16),
          "vec_id", "embedding", m = 4, subDim = 16)
        val cents = emb.filter(col("vec_id") < 4)
        val res = Similarity.ivfResiduals(
          Similarity.ivfAssign(emb, cents, "vec_id", "embedding"),
          cents, "vec_id", "embedding").localCheckpoint()
        val rcb = Similarity.pqCodebook(res.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("res")), "vec_id", "res", 4, 16)
        EmbIn(emb, cb,
          Similarity.pqEncode(emb, cb, "vec_id", "embedding", 4, 16).localCheckpoint(),
          Similarity.sqStats(emb, "embedding", 64).localCheckpoint(),
          Similarity.sqEncode(emb, "vec_id", "embedding", 64).localCheckpoint(),
          cents, res, rcb,
          Similarity.ivfPqEncode(res, rcb, "vec_id", 4, 16).localCheckpoint())
      },
      _.emb.count(),
      Seq[(String, EmbIn => Long)](
        "pq_encode" -> (in => Similarity.pqEncode(in.emb, in.cb, "vec_id",
          "embedding", 4, 16).count()),
        "pq_adc" -> (in => Similarity.pqAdcSearch(in.codes, in.cb, in.queries,
          "vec_id", "embedding", 4, 16, k = 5).count()),
        "sq_encode" -> (in =>
          Similarity.sqEncode(in.emb, "vec_id", "embedding", 64).count()),
        "sq_search" -> (in => Similarity.sqSearch(in.sqCodes, in.sqStats,
          in.queries, "vec_id", "embedding", k = 5).count()),
        // near-random embeddings: ~n/k rows a cell
        "semdedup_bal" -> (in => Similarity.semDedup(in.emb, "vec_id",
          "embedding", Seq(0L, 1L, 2L, 3L), 2, 0.3).count()),
        "cell_bal" -> (in => Similarity.cellBalancedSample(in.emb, "vec_id",
          "embedding", initIds = Seq(0L, 1L, 2L, 3L), iterations = 2,
          perCell = 100).count()),
        "ivfpq_encode" -> (in =>
          Similarity.ivfPqEncode(in.res, in.rcb, "vec_id", 4, 16).count()),
        "ivfpq_adc" -> (in => Similarity.ivfPqSearch(in.ivfCodes, in.cents,
          in.rcb, in.queries, "vec_id", "embedding", 4, 16, k = 5,
          nProbe = 2).count()),
        "emb_outliers" -> (in => Similarity.embeddingOutliers(in.emb, in.cents,
          "vec_id", "embedding").count()),
        "emb_moments" -> (in =>
          Similarity.embMoments(in.emb, "vec_id", "embedding").count())))

    // the capped default against the explicit opt-out (maxCellSize = 0):
    // the wall gap is the measured value of the default guard
    val skewOps = Group[DataFrame](
      k => skewed(replicateEmb(emb0, k)).localCheckpoint(), _.count(),
      Seq[(String, DataFrame => Long)](
        "semdedup_skew" -> (s => Similarity.semDedup(s, "vec_id", "embedding",
          Seq(0L, 1L, 3L, 5L), 2, 0.3).count()),
        "semdedup_skew_raw" -> (s => Similarity.semDedup(s, "vec_id",
          "embedding", Seq(0L, 1L, 3L, 5L), 2, 0.3, maxCellSize = 0).count())))
    Seq(docOps, embOps, skewOps)
  }

  /** Sink-side floor a 100 TB export planner scales from: shards are
    * independent, so wall ∝ corpus / min(nShards, cores). */
  private def exportSuite(docs: DataFrame, census: Census,
      shardCounts: Seq[Int]): Unit = {
    val nDocs = docs.count()
    val media = graft.multimodal.Media.syntheticPatternBmps(docs, "doc_id")
      .select(col("media_id").as("doc_id"), col("payload"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    val sinks = Seq[(String, (String, Int) => DataFrame)](
      "jsonl_gz" -> ((out, n) =>
        graft.sources.Jsonl.writeShards(docs, "doc_id", out, n)),
      "jsonl" -> ((out, n) =>
        graft.sources.Jsonl.writeShards(docs, "doc_id", out, n, gzip = false)),
      "tfrecord" -> ((out, n) =>
        graft.sources.TfRecord.writeShards(docs, "doc_id", "text", out, n)),
      "tf_example" -> ((out, n) => graft.sources.TfRecord.writeExamples(docs,
        "doc_id", Seq("doc_id" -> col("doc_id"), "source" -> col("source"),
          "text" -> col("text")), out, n)),
      "webdataset" -> ((out, n) => graft.multimodal.WebDataset.writeShards(
        media, "doc_id", "payload", "text", out, n)))
    val tmp = java.nio.file.Files.createTempDirectory("scalestep-export")
    try for (n <- shardCounts; (name, sink) <- sinks) {
      val s = census.measure(name)(sink(tmp.resolve(s"$name-$n").toString, n)
        .agg(sum("bytes_written")).head().getLong(0))
      val mb = s.out / 1e6
      println(f"export: $name%-12s $nDocs docs -> $mb%8.1f MB in ${s.wallS}%6.2f s " +
        f"(${mb / s.wallS}%6.1f MB/s) shards=$n jobs=${s.jobs} tasks=${s.tasks}")
    } finally scala.util.Using.resource(java.nio.file.Files.walk(tmp))(
      _.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p)))
  }

  /** Trained-BPE cost. Training is one corpus pass, then an in-memory
    * merge loop over the <= maxWords word table, so its cost is per
    * merge, not per document; applying is the rank-greedy kernel,
    * whose cost is ∝ merges applied per row, not table depth. */
  private def bpe(spark: SparkSession, docs: DataFrame, census: Census,
      counts: Seq[Int]): Unit = {
    def tokens(df: DataFrame) = df.agg(sum("n_tokens")).head().getLong(0)
    // train `m` merges (to exhaustion) on `corpus`, then apply them
    def step(corpus: DataFrame, m: Int) = {
      var merges = Seq.empty[(String, String)]
      val train = census.measure("train") {
        merges = TextOps.bpeTrainMerges(corpus, "text", m,
          stopAtExhaustion = true)
        merges.size
      }
      val apply = census.measure("apply")(
        tokens(TextOps.bpeTokenize(corpus, "doc_id", "text", merges)))
      val got = merges.size
      (got, f"train=${train.wallS}%7.2f s (${train.wallS / got * 1000}%6.1f ms/merge) " +
        f"apply=${apply.wallS}%7.2f s tokens=${apply.out}%10d " +
        f"train_jobs=${train.jobs}")
    }
    val nDocs = docs.count()
    step(docs, 4)
    counts.foreach { m =>
      val (got, cols) = step(docs, m)
      val note = if (got < m) s" EXHAUSTED at $got" else ""
      println(f"BPE_SCALE merges=$got%5d docs=$nDocs%6d $cols$note")
    }
    // Realistic depth (1k-4k+ merges) needs a richer vocabulary than
    // the sf corpus, whose pretoken alphabet exhausts at ~126 merges:
    // hex words sustain thousands.
    val rich = spark.range(20000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 6).map(j =>
        md5(concat(col("id").cast("string"), lit(s":$j")))): _*).as("text"))
      .localCheckpoint()
    step(rich, 8)
    Seq(128, 512, 2048, 4096).foreach { m =>
      val (got, cols) = step(rich, m)
      println(f"BPE_DEEP merges=$got%5d docs=20000 $cols")
    }
  }

  /** The unigram tokenizer's two apply-cost claims: (a) independent of
    * vocabulary size — the Viterbi kernel does O(chars x maxPieceLen)
    * hash probes per row however many pieces the table holds, and the
    * model ships once per call as a broadcast, shown by padding the
    * model with never-matching pieces (underscores cannot occur in
    * [a-z0-9] tokens); (b) ~linear in maxPieceLen, the knob a
    * deployment tunes. */
  private def unigram(docs: DataFrame, census: Census): Unit = {
    val nDocs = docs.count()
    var model = Seq.empty[(String, Long)]
    val train = census.measure("train") {
      model = TextOps.unigramTrainScores(docs, "doc_id", "text",
          vocabSize = 64, maxPieceLen = 8)
        .select("piece", "score_micro").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      model.size
    }
    println(f"train: vocabSize=64 maxPieceLen=8 -> ${model.size} pieces " +
      f"in ${train.wallS}%.2f s over $nDocs docs")
    def padded(extra: Int) =
      model ++ (0 until extra).map(i => (s"_pad_$i", -20000000L))
    def applySec(vocab: Seq[(String, Long)], maxPieceLen: Int): Double =
      census.measure("apply") {
        TextOps.unigramTokenizeWith(docs, "doc_id", "text", vocab, maxPieceLen)
          .agg(sum("n_pieces")).head().getLong(0)
      }.wallS
    applySec(model, 8)
    Seq(0, 10000, 100000, 1000000).foreach { extra =>
      val v = padded(extra)
      println(f"apply: |vocab|=${v.size}%7d maxPieceLen=8 -> ${applySec(v, 8)}%.2f s")
    }
    Seq(2, 4, 8, 16, 32).foreach { l =>
      println(f"apply: |vocab|=${model.size}%7d maxPieceLen=$l%2d -> " +
        f"${applySec(model, l)}%.2f s")
    }
  }
}
