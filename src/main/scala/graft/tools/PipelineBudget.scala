package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-budget decomposition of the composed-pipeline queries (t94 /
  * t106): times each candidate shape of the PII variant at sf0.1 so
  * the t106 bench footprint is chosen from MEASUREMENT, not guesswork
  * (r11 verdict: t106 pays ~92% of t94's price to pin one stage-order
  * contract — the biggest single lever on the 2x bench gate).
  *
  * Candidates, all pinning the SAME scrub-late contract (curation
  * gates read raw text, every downstream token consumer reads masked
  * text):
  *   A. current: half corpus through the full crawlToShards chain
  *   B. half corpus through corpusToShards (skip WARC/HTML ingest —
  *      the ingest leg is individually covered by t85/t88/t90)
  *   C. quarter corpus through corpusToShards
  *   D. eighth corpus through corpusToShards
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PipelineBudget"
  */
object PipelineBudget {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession()

    def docs(mod: Int): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % mod === 0)
    def planted(d: DataFrame): DataFrame = d.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact bob"), col("doc_id").cast("string"),
            lit("@mail.example.com or 10.0.0.1 ref 123456789012")))
          .otherwise(lit(""))).as("text"),
      col("source"))
    val bench = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 17 === 0).select("doc_id", "text")

    def viaCrawl(mod: Int): DataFrame = {
      val p = planted(docs(mod))
      val warc = graft.sources.Warc.buildWarc(
        graft.util.FanOut(p), "doc_id", "text")
      graft.pipeline.Pipeline.crawlToShards(warc, "warc_id", "payload",
        p.select("doc_id", "source"), bench, idCol = "doc_id",
        scrubPii = true).orderBy("doc_id")
    }
    def viaCorpus(mod: Int): DataFrame =
      graft.pipeline.Pipeline.corpusToShards(
        graft.util.FanOut(planted(docs(mod))), bench, "doc_id", "text",
        "source", scrubPii = true).orderBy("doc_id")

    def time(name: String, fn: => DataFrame): Unit = {
      // min-of-two, matching Bench's discipline
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = fn.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[pb] $name%-28s rows=${ts.head._2}%6d  " +
        f"min=${ts.map(_._1).min}%6.2f s  (raw ${ts.map(t => f"${t._1}%.2f").mkString("/")})")
    }
    // warm-up: one full pass so JIT/codegen isn't charged to variant A
    viaCorpus(8).count()
    time("A half+crawlToShards (now)", viaCrawl(2))
    time("B half+corpusToShards", viaCorpus(2))
    time("C quarter+corpusToShards", viaCorpus(4))
    time("D eighth+corpusToShards", viaCorpus(8))

    // ingest-leg decomposition: where do A-B = ~6.6 s live?
    def ingest(mod: Int, fanOut: Boolean, doJoin: Boolean,
        ckpt: Boolean): DataFrame = {
      val p = planted(docs(mod))
      val warc = graft.sources.Warc.buildWarc(
        if (fanOut) graft.util.FanOut(p) else p, "doc_id", "text")
      val c0 = graft.sources.Warc.toCorpus(warc, "warc_id", "payload")
        .select(col("warc_id").as("doc_id"), col("text"))
      val c1 = if (doJoin)
        c0.join(p.select("doc_id", "source"), Seq("doc_id")) else c0
      if (ckpt) c1.localCheckpoint() else c1
    }
    time("I1 warc chain bare", ingest(2, fanOut = false, doJoin = false, ckpt = false))
    time("I2 + FanOut", ingest(2, fanOut = true, doJoin = false, ckpt = false))
    time("I3 + join sources", ingest(2, fanOut = true, doJoin = true, ckpt = false))
    time("I4 + localCheckpoint", ingest(2, fanOut = true, doJoin = true, ckpt = true))

    // crawl-vs-parquet corpus gap at FULL corpus: is the t94 residual
    // (vs the parquet-direct control) the barrier kind, or the chain?
    {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val bench2 = docs.filter(col("doc_id") % 17 === 0).select("doc_id", "text")
      def viaCrawlFull(): DataFrame = {
        val warc = graft.sources.Warc.buildWarc(
          graft.util.FanOut(docs), "doc_id", "text")
        graft.pipeline.Pipeline.crawlToShards(warc, "warc_id", "payload",
          docs.select("doc_id", "source"), bench2, idCol = "doc_id")
          .orderBy("doc_id")
      }
      def viaParquetSpill(): DataFrame = {
        val warc = graft.sources.Warc.buildWarc(
          graft.util.FanOut(docs), "doc_id", "text")
        val c = graft.sources.Warc.toCorpus(warc, "warc_id", "payload")
          .select(col("warc_id").as("doc_id"), col("text"))
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
        c.write.mode("overwrite").parquet("/tmp/pb_corpus.parquet")
        graft.pipeline.Pipeline.corpusToShards(
          spark.read.parquet("/tmp/pb_corpus.parquet"), bench2,
          "doc_id", "text", "source").orderBy("doc_id")
      }
      def viaParquetDirect(): DataFrame =
        graft.pipeline.Pipeline.corpusToShards(
          graft.util.FanOut(docs), bench2, "doc_id", "text", "source")
          .orderBy("doc_id")
      time("E full crawlToShards (t94)", viaCrawlFull())
      time("G full crawl+parquet spill", viaParquetSpill())
      time("H full parquet direct", viaParquetDirect())
    }

    // stage decomposition of corpusToShards' ~10 s floor (eighth corpus)
    {
      import graft.text.TextOps
      import org.apache.spark.sql.expressions.Window
      val corpus = graft.util.FanOut(planted(docs(8)))
      def curatedIds() = TextOps.curateCorpus(
          corpus.select(col("doc_id"), col("text")), "doc_id", "text",
          0.5, 20, 80, 0.12, Seq("en"))
        .select(col("doc_id")).localCheckpoint()
      time("S1 curateCorpus+ckpt", { val c = curatedIds(); c.toDF() })
      val ids = curatedIds()
      val curatedRaw = corpus.join(ids, Seq("doc_id"), "left_semi")
      val curated = TextOps.piiScrub(curatedRaw, "doc_id", "text")
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(curatedRaw.select(col("doc_id"), col("source")), Seq("doc_id"))
      time("S2 scrub+joins", curated)
      val flagged = TextOps.decontaminate(curated, bench, "doc_id", "text", 13)
        .select(col("doc_id"))
      val clean = curated.join(flagged, Seq("doc_id"), "left_anti")
      time("S3 + decontaminate", clean)
      val budgeted = TextOps.tokenBudgetSample(clean, "doc_id", "text",
          "source", 600)
        .select(col("source"), col("doc_id"), col("n_tokens"))
        .localCheckpoint()
      time("S4 + budget+ckpt", budgeted.toDF())
      val w = Window.partitionBy("source").orderBy("doc_id")
      val packed = budgeted.withColumn("bin",
        floor((sum("n_tokens").over(w) - col("n_tokens")) / lit(512.0))
          .cast("long"))
      val splits = TextOps.leakSafeSplit(
        clean.join(budgeted.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        "doc_id", "text", 0.2)
      time("S5 leakSafeSplit alone", splits)
      time("S6 final join", packed
        .join(splits.select(col("doc_id"), col("split")), Seq("doc_id")))
    }
    spark.stop()
  }
}
