package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.text.TextOps

/** Streaming corpus hygiene: scalar simhash equals the batch aggregate;
  * streamed dedup/decontaminate agree with their batch twins. */
class DocStreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  def docsBatch = spark.read.parquet(s"$dir/documents.parquet")

  /** FileStreamSource needs a directory; stage the single parquet. */
  lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("documents.parquet"))
    d.toString
  }

  test("scalar simhash16Col is bit-for-bit the batch simhash16 aggregate") {
    val viaCol = docsBatch
      .select(col("doc_id"), TextOps.simhash16Col(col("text")).as("simhash"))
    val viaAgg = TextOps.simhash16(docsBatch, "doc_id", "text")
      .select("doc_id", "simhash")
    assert(viaCol.exceptAll(viaAgg).count() == 0)
    assert(viaAgg.exceptAll(viaCol).count() == 0)
  }

  test("scalar simhash64Col is bit-for-bit the batch simhash64 aggregate") {
    val viaCol = docsBatch
      .select(col("doc_id"), TextOps.simhash64Col(col("text")).as("simhash"))
    val viaAgg = TextOps.simhash64(docsBatch, "doc_id", "text")
      .select("doc_id", "simhash")
    assert(viaCol.exceptAll(viaAgg).count() == 0)
    assert(viaAgg.exceptAll(viaCol).count() == 0)
  }

  test("lineFilter and mixtureSample compose with a stream, matching batch") {
    // Both ops are narrow projections/filters, so the SAME library call
    // works unchanged on a streaming frame in append mode — the
    // composability contract for corpus hygiene at ingest time.
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 1.0)
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      TextOps.lineFilter(
        TextOps.mixtureSample(df, "doc_id", "source", rates),
        "doc_id", "text", sep = " the ", minWords = 4,
        banned = Seq("slow"), requireTerminal = false, minKeptLines = 2)
    val q = pipeline(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("hygiene_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("hygiene_stream")
    val batch = pipeline(docsBatch)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming semantic decontamination matches the batch survivor set") {
    // stateless stream-static anti join on the rounded-cosine
    // threshold: stream survivors must equal the batch operator's
    // row-for-row (same Dot kernel, same 4-dp rounding)
    val embDir = {
      val d = java.nio.file.Files.createTempDirectory("emb_stream")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
        d.resolve("embeddings.parquet"))
      d.toString
    }
    val embBatch = spark.read.parquet(s"$dir/embeddings.parquet")
    val bench = embBatch.filter(col("vec_id") < 50)
    val stream = spark.readStream.schema(embBatch.schema).parquet(embDir)
      .filter(col("vec_id") >= 50)
    val q = DocStreams.semanticDecontaminate(stream, bench,
        "embedding", minCosine = 0.35)
      .select("vec_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("semdecon_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("semdecon_stream")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.sim.Similarity.semanticDecontaminate(
        embBatch.filter(col("vec_id") >= 50), bench,
        "vec_id", "embedding", minCosine = 0.35)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, "stream survivors must equal batch")
    assert(batch.size < embBatch.filter(col("vec_id") >= 50).count(),
      "fixture must actually flag something")
    // the batch twin's guards fire at plan time on the stream side too
    val err = intercept[IllegalArgumentException] {
      DocStreams.semanticDecontaminate(stream, bench, "embedding",
        minCosine = 0.35, maxBench = 10)
    }
    assert(err.getMessage.contains("maxBench"))
    val err2 = intercept[IllegalArgumentException] {
      DocStreams.semanticDecontaminate(stream, bench, "embedding",
        minCosine = 1.5)
    }
    assert(err2.getMessage.contains("minCosine"))
  }

  test("redactPii composes with a stream, matching batch") {
    // PII redaction is a pure narrow regexp cascade, so the SAME
    // library call runs unchanged at ingest time — and ingest is where
    // PII scrubbing belongs: the raw text never lands downstream.
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      graft.text.PiiOps.redactPii(
        df.withColumn("text", concat(col("text"),
          lit(" mail u"), col("doc_id").cast("string"),
          lit("@x.org ip 10.1.2."), (col("doc_id") % 256).cast("string"))),
        "doc_id", "text")
    val q = pipeline(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("pii_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("pii_stream")
    val batch = pipeline(docsBatch)
    assert(streamed.count() == docsBatch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // every planted email/ip is gone from the streamed output
    assert(spark.table("pii_stream")
      .filter(col("text_redacted").rlike(graft.text.PiiOps.EmailPattern) ||
        col("text_redacted").rlike(graft.text.PiiOps.Ipv4Pattern))
      .count() == 0)
  }

  test("chunkDocuments composes with a stream, matching batch") {
    // Chunking is a stateless narrow map (tokenize -> explode -> slice),
    // so the SAME call runs unchanged on a streaming frame in append
    // mode — chunk-at-ingest for a RAG/embedding pipeline.
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      TextOps.chunkDocuments(df, "doc_id", "text",
        chunkTokens = 16, overlap = 4)
    val q = pipeline(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("chunk_stream")
    val batch = pipeline(docsBatch)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming simhash dedup emits one doc per distinct 64-bit signature") {
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
      .withColumn("ingest_time",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
    val q = DocStreams.dedupBySimhash(stream, "text", "ingest_time")
      .writeStream.outputMode("append").format("memory").queryName("doc_dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("doc_dedup")
    val wantSigs = docsBatch
      .select(TextOps.simhash64Col(col("text")).as("s")).distinct().count()
    assert(got.count() == wantSigs, "one survivor per distinct signature")
    val gotSigs = got.select(TextOps.simhash64Col(col("text")).as("s"))
    assert(gotSigs.distinct().count() == got.count(), "no duplicate signatures")
    // 64 bits must separate docs a 16-bit signature would conflate —
    // the r4 advisory failure mode (unrelated docs colliding in-horizon)
    val sigs16 = docsBatch
      .select(TextOps.simhash16Col(col("text")).as("s")).distinct().count()
    assert(wantSigs >= sigs16, "64-bit signatures are at least as fine-grained")
  }

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

  test("streaming MinHash dedup matches the batch LSH/CC chain on dup groups") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      // 20 trios of near-identical docs (one unique tail token) plus 30
      // singletons with disjoint vocabularies — dup clusters are bucket
      // cliques, the shape the batch-parity contract pins
      val base = (0L until 20L).flatMap { g =>
        val words = (0 until 25).map(w => s"g${g}w${(g * 7 + w * 3) % 23}")
          .mkString(" ")
        (0 until 3).map(c => (g * 10 + c, s"$words tail${g * 10 + c}"))
      }
      val singles = (500L until 530L).map(i =>
        (i, (0 until 25).map(w => s"s${i}u${i * 13 + w * 5}").mkString(" ")))
      val corpus = (base ++ singles).sortBy(_._1)
      val docs = corpus.toDF("doc_id", "text")
      val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
      val bux = TextOps.lshBuckets(sigs, "doc_id", 8, 2)
      val pairs = bux.as("x").join(bux.as("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val want = TextOps.dropNearDuplicates(docs, "doc_id", pairs)
        .select("doc_id").as[Long].collect().toSet
      assert(want.size < corpus.size, "the corpus must actually deduplicate")

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val stream = in.toDF.toDF("doc_id", "text", "ingest_time")
      val q = DocStreams.dedupByMinhash(stream, "doc_id", "text", "ingest_time")
        .writeStream.outputMode("append").format("memory")
        .queryName("mh_dedup").start()
      in.addData(corpus.map { case (id, text) => (id, text, ts(id)) })
      q.processAllAvailable()
      // far-future sentinel advances the watermark past every real doc
      // so the append-mode per-doc aggregation emits the survivors
      in.addData((999999L, "sentinel doc", ts(86400L * 2)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("mh_dedup").select("doc_id").as[Long]
        .collect().toSet - 999999L
      assert(got == want,
        s"stream/batch mismatch: only-stream=${got -- want} only-batch=${want -- got}")
    }
  }

  test("streaming paragraph scrub matches batch dedupParagraphs exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      // shared pool + unique paragraphs: cross-doc dups, within-doc
      // dups, and an all-dup doc — the full batch-semantics surface
      val pool = (0 until 6).map(i => s"shared paragraph $i about spark")
      val corpus = (0L until 40L).map { i =>
        val own = s"doc $i unique notes"
        val ps = Seq(pool((i % 6).toInt), pool(((i * 3 + 1) % 6).toInt),
          own, pool(((i * 7 + 2) % 6).toInt))
        (i, ps.mkString("\n\n"))
      }
      val docs = corpus.toDF("doc_id", "text")
      val want = TextOps.dedupParagraphs(docs, "doc_id", "text")

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val stream = in.toDF.toDF("doc_id", "text", "ingest_time")
      val q = DocStreams.scrubParagraphs(stream, "doc_id", "text", "ingest_time")
        .writeStream.outputMode("append").format("memory")
        .queryName("para_scrub").start()
      in.addData(corpus.map { case (id, text) => (id, text, ts(id)) })
      q.processAllAvailable()
      in.addData((999999L, "sentinel", ts(86400L * 2)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("para_scrub")
        .filter(col("doc_id") =!= 999999L)
        .drop("ingest_time")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        "stream/batch paragraph scrub mismatch")
    }
  }

  test("paragraph claims expire with the horizon; re-arrivals keep again") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val stream = in.toDF.toDF("doc_id", "text", "ingest_time")
      // 1-minute claim horizon and watermark
      val q = DocStreams.scrubParagraphs(stream, "doc_id", "text",
          "ingest_time", watermark = "1 minute", claimHorizonMs = 60000L)
        .writeStream.outputMode("append").format("memory")
        .queryName("para_expire").start()
      def step(rows: (Long, String, java.sql.Timestamp)*): Unit = {
        in.addData(rows); q.processAllAvailable()
      }
      // doc 1 claims "boiler"; doc 2 (5s later) loses it
      step((1L, "boiler\n\nalpha", ts(0)), (2L, "boiler\n\nbeta", ts(5)))
      // filler advances the watermark past ts(60), firing the expiry
      // timer BEFORE doc 3's batch (timers fire on watermark progress,
      // not wall clock)
      step((10L, "filler only", ts(300)))
      // doc 3 arrives after the horizon: the claim expired, keeps again
      step((3L, "boiler\n\ngamma", ts(600)))
      step((999L, "sentinel", ts(7200)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("para_expire")
        .filter(col("doc_id") =!= 999L)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(got(1L) == "boiler\n\nalpha")
      assert(got(2L) == "beta", "doc 2 must lose the live claim")
      assert(got(3L) == "boiler\n\ngamma", "expired claim must free the paragraph")
    }
  }

  test("MinHash claims expire with the horizon; re-arrivals survive again") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val twin = (0 until 25).map(w => s"dup${w % 7}tok$w").mkString(" ")
      val filler = (0 until 25).map(w => s"fill${w * 11}").mkString(" ")
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val h = 3600L
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val stream = in.toDF.toDF("doc_id", "text", "ingest_time")
      val q = DocStreams.dedupByMinhash(stream, "doc_id", "text", "ingest_time")
        .writeStream.outputMode("append").format("memory")
        .queryName("mh_expiry").start()
      def step(rows: (Long, String, java.sql.Timestamp)*): Unit = {
        in.addData(rows); q.processAllAvailable()
      }
      step((1L, twin, ts(0)))           // A claims
      step((2L, twin, ts(h)))           // B absorbed: claim live
      step((10L, filler, ts(5 * h)))    // watermark -> 3h: A's claim (2h) expires
      step((3L, twin, ts(5 * h + 30)))  // C re-claims the expired buckets
      step((4L, twin, ts(5 * h + 60)))  // D absorbed by C's fresh claim
      step((99L, "sentinel doc", ts(86400L * 3))) // flush the aggregation
      q.processAllAvailable()
      q.stop()
      val got = spark.table("mh_expiry").select("doc_id").as[Long]
        .collect().toSet - 99L
      assert(got == Set(1L, 10L, 3L),
        s"expected A, filler and the post-horizon re-arrival; got $got")
    }
  }

  test("streaming corpus-index dedup matches batch dedupAgainstCorpus") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      // curated corpus: 10 distinct-vocabulary docs. Batch shape:
      // - ids 100-102: trivial edits of corpus doc 0 -> corpus clash,
      //   dropped both sides
      // - ids 200/201, 210/211: within-batch dup pairs with vocab
      //   disjoint from the corpus -> pair min survives
      // - ids 300-309: singletons -> all survive
      def corpusText(g: Long) =
        (0 until 25).map(w => s"c${g}w${(g * 11 + w * 3) % 29}").mkString(" ")
      val corpus = (0L until 10L).map(i => (i, corpusText(i)))
        .toDF("doc_id", "text")
      val idx = TextOps.lshBuckets(
        TextOps.minhashSignature(corpus, "doc_id", "text", k = 8),
        "doc_id", 8, 2)
      def dupText(g: Long, c: Long) =
        (0 until 25).map(w => s"n${g}w${(g * 7 + w * 5) % 23}")
          .mkString(" ") + s" tail$c"
      val batch = Seq(
          (100L, corpusText(0) + " tiny100"),
          (101L, corpusText(0) + " tiny101"),
          (102L, corpusText(0) + " tiny102"),
          (200L, dupText(1, 200)), (201L, dupText(1, 201)),
          (210L, dupText(2, 210)), (211L, dupText(2, 211))) ++
        (300L until 310L).map(i =>
          (i, (0 until 25).map(w => s"z${i}u${i * 13 + w * 5}").mkString(" ")))
      val docs = batch.toDF("doc_id", "text")
      val want = TextOps.dedupAgainstCorpus(docs, idx, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(!want.exists(_ < 200), "corpus clashes must drop")
      assert(want.size < batch.size, "the batch must actually deduplicate")

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val stream = in.toDF.toDF("doc_id", "text", "ingest_time")
      val q = DocStreams.dedupAgainstCorpus(stream, idx,
          "doc_id", "text", "ingest_time")
        .writeStream.outputMode("append").format("memory")
        .queryName("corpus_dedup").start()
      in.addData(batch.map { case (id, text) => (id, text, ts(id)) })
      q.processAllAvailable()
      in.addData((999999L, "sentinel doc", ts(86400L * 2)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("corpus_dedup").select("doc_id").as[Long]
        .collect().toSet - 999999L
      assert(got == want,
        s"stream/batch mismatch: only-stream=${got -- want} only-batch=${want -- got}")
    }
  }

  test("index refresh: restarted stream over refreshIndexBuckets matches from-scratch batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withRocksDb {
      // the periodic-compaction story: batch 1 dedups against the
      // curated index, its survivors are folded in with
      // refreshIndexBuckets, the stream RESTARTS over the refreshed
      // static frame, and batch 2's survivors must equal (a) the
      // incremental batch run and (b) a from-scratch index built over
      // corpus + batch-1 survivors
      def vocab(p: String, g: Long) =
        (0 until 25).map(w => s"$p${g}w${(g * 11 + w * 3) % 29}").mkString(" ")
      val corpus = (0L until 5L).map(i => (i, vocab("c", i)))
        .toDF("doc_id", "text")
      val idx0 = TextOps.lshBuckets(
        TextOps.minhashSignature(corpus, "doc_id", "text", k = 8),
        "doc_id", 8, 2).cache()
      val batch1 = Seq(
        (100L, vocab("c", 0) + " tiny100"),    // corpus clash -> dropped
        (200L, vocab("n", 1) + " tail200"),    // pair min -> survives
        (201L, vocab("n", 1) + " tail201"),    // absorbed by 200
        (300L, vocab("s", 3)))                 // singleton -> survives
      val b1 = batch1.toDF("doc_id", "text")
      val s1 = TextOps.dedupAgainstCorpus(b1, idx0, "doc_id", "text").cache()
      assert(s1.select("doc_id").as[Long].collect().toSet == Set(200L, 300L))
      val idx1 = TextOps.refreshIndexBuckets(idx0, s1, "doc_id", "text")
        .cache()
      val batch2 = Seq(
        (400L, vocab("n", 1) + " tail400"),    // near-dups s1's 200 -> dropped
        (401L, vocab("s", 3) + " tiny401"),    // near-dups s1's 300 -> dropped
        (500L, vocab("q", 7)),                 // singleton -> survives
        (510L, vocab("r", 9) + " tail510"),    // pair min -> survives
        (511L, vocab("r", 9) + " tail511"))    // absorbed by 510
      val b2 = batch2.toDF("doc_id", "text")
      val wantS2 = TextOps.dedupAgainstCorpus(b2, idx1, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(wantS2 == Set(500L, 510L), s"incremental batch-2: $wantS2")
      // (b) the refreshed index behaves exactly like one rebuilt from
      // scratch over corpus + batch-1 survivors
      val idxScratch = TextOps.lshBuckets(
        TextOps.minhashSignature(
          corpus.unionByName(s1.select("doc_id", "text")),
          "doc_id", "text", k = 8), "doc_id", 8, 2)
      val scratchS2 = TextOps.dedupAgainstCorpus(b2, idxScratch,
          "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(scratchS2 == wantS2, "refresh must equal a from-scratch index")
      // (a) the RESTARTED stream over the refreshed static frame
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      def runStream(idx: org.apache.spark.sql.DataFrame,
          batch: Seq[(Long, String)], name: String): Set[Long] = {
        val in = MemoryStream[(Long, String, java.sql.Timestamp)]
        val stream = in.toDF.toDF("doc_id", "text", "ingest_time")
        val q = DocStreams.dedupAgainstCorpus(stream, idx,
            "doc_id", "text", "ingest_time")
          .writeStream.outputMode("append").format("memory")
          .queryName(name).start()
        in.addData(batch.map { case (id, text) => (id, text, ts(id)) })
        q.processAllAvailable()
        in.addData((999999L, "sentinel doc", ts(86400L * 2)))
        q.processAllAvailable()
        q.stop()
        spark.table(name).select("doc_id").as[Long].collect().toSet - 999999L
      }
      assert(runStream(idx0, batch1, "refresh_b1") == Set(200L, 300L))
      assert(runStream(idx1, batch2, "refresh_b2") == wantS2,
        "restarted stream over the refreshed index must match batch")
      Seq(idx0, s1, idx1).foreach(_.unpersist())
    }
  }

  test("streaming decontamination drops exactly the batch-flagged docs") {
    val schema = docsBatch.schema
    val bench = docsBatch.filter(col("doc_id") < 50)
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = DocStreams.decontaminate(
        stream.filter(col("doc_id") >= 50), bench, "doc_id", "text",
        shingleWords = 3)
      .writeStream.outputMode("append").format("memory").queryName("doc_clean")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("doc_clean").select("doc_id")
    val flagged = TextOps.decontaminate(
      docsBatch.filter(col("doc_id") >= 50), bench, "doc_id", "text",
      shingleWords = 3).select("doc_id")
    val wantClean = docsBatch.filter(col("doc_id") >= 50).select("doc_id")
      .exceptAll(flagged)
    assert(got.count() == wantClean.count())
    assert(got.exceptAll(wantClean).count() == 0,
      "streaming survivors differ from batch-clean docs")
  }

  test("streaming CMS registers equal the batch sketch (bounded state)") {
    // The count-min register table IS a streaming aggregate: state is
    // depth x width rows no matter how long the stream runs — the
    // bounded-memory counting shape for an ingest pipeline.
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = TextOps.cmsRegisters(
        stream.select(explode(TextOps.tokens(col("text"))).as("t")),
        col("t"), depth = 4, width = 256)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cms_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("cms_stream")
    val batch = TextOps.cmsRegisters(
      docsBatch.select(explode(TextOps.tokens(col("text"))).as("t")),
      col("t"), depth = 4, width = 256)
    assert(streamed.count() <= 4L * 256)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming histogram registers equal the batch sketch") {
    // count/min/max/sum per log2 bucket is one complete-mode agg;
    // state bounded by groups x 64 — same contract as CMS/HLL.
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = TextOps.histRegisters(stream, "source", length(col("text")))
      .writeStream.outputMode("complete").format("memory")
      .queryName("hist_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("hist_stream")
    val batch = TextOps.histRegisters(docsBatch, "source",
      length(col("text")))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming data-card registers equal batch; derived card exact") {
    // corpusStats itself rolls up (unsupported in streaming); its
    // register form is a plain complete-mode agg with |sources|-row
    // state, and the presentation card derives from registers with
    // bit-identical arithmetic — so the streamed card IS the batch card
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = graft.text.TextOps.corpusStatsRegisters(
        stream, "doc_id", "text", "source")
      .writeStream.outputMode("complete").format("memory")
      .queryName("card_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("card_stream")
    val batch = graft.text.TextOps.corpusStatsRegisters(
      docsBatch, "doc_id", "text", "source")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val cardS = graft.text.TextOps.corpusStatsFrom(streamed, "source")
    val cardB = graft.text.TextOps.corpusStats(
      docsBatch, "doc_id", "text", "source")
    assert(cardS.exceptAll(cardB).count() == 0 &&
      cardB.exceptAll(cardS).count() == 0)
  }

  test("streaming token-drift registers equal batch; derived KL exact") {
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = graft.text.TextOps.tokenDriftRegisters(
        stream, "doc_id", "text", "source")
      .writeStream.outputMode("complete").format("memory")
      .queryName("drift_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("drift_stream")
    val batch = graft.text.TextOps.tokenDriftRegisters(
      docsBatch, "doc_id", "text", "source")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val klS = graft.text.TextOps.tokenDriftFrom(streamed, "source")
    val klB = graft.text.TextOps.tokenDrift(
      docsBatch, "doc_id", "text", "source")
    assert(klS.exceptAll(klB).count() == 0 &&
      klB.exceptAll(klS).count() == 0)
  }

  test("streaming domain-diversity registers equal the batch composition") {
    // t93's streaming twin: URL canonicalization (incl. the PSL domain
    // kernel) composed with per-source HLL registers, complete mode.
    // The planted URL column exercises multi-part TLDs, default-port
    // stripping, and an unparseable row (doc_id % 11 == 0 -> no
    // scheme) that must be dropped identically in both engines.
    val urlExpr = when(col("doc_id") % 11 === 0, lit("not a url"))
      .otherwise(concat(lit("https://"),
        element_at(array(lit("WWW.Example.COM"), lit("news.Site.co.uk"),
          lit("a.b.Example.org"), lit("cdn.media.ac.uk")),
          (col("doc_id") % 4 + 1).cast("int")),
        lit(":443/p/"), (col("doc_id") % 7).cast("string")))
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    def withUrl(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("source"), urlExpr.as("url"))
    val q = DocStreams.domainDiversityRegisters(withUrl(stream),
        "doc_id", "url", "source", p = 6)
      .writeStream.outputMode("complete").format("memory")
      .queryName("domdiv_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("domdiv_stream")
    val batch = DocStreams.domainDiversityRegisters(withUrl(docsBatch),
      "doc_id", "url", "source", p = 6)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // derived estimates bit-identical too
    val a = TextOps.hllEstimate(streamed, "source", p = 6).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = TextOps.hllEstimate(batch, "source", p = 6).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b && a.nonEmpty)
  }

  test("streaming MinHash overlap registers equal the batch sketch") {
    // min per (source, bucket) is duplicate-insensitive, so the
    // stream twin is ONE complete-mode aggregate landing on the
    // IDENTICAL register table — and the pairwise overlap estimates
    // derived from the streamed registers are bit-identical too.
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = DocStreams.sourceOverlapRegisters(stream, "text", "source",
        k = 64)
      .writeStream.outputMode("complete").format("memory")
      .queryName("mhr_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // localCheckpoint: the memory-sink view can't self-join (MemoryPlan
    // lacks MultiInstanceRelation), and minhashRegisterOverlap is a
    // self-join; the checkpointed LogicalRDD dedups fine
    val streamed = spark.table("mhr_stream").localCheckpoint()
    val batch = DocStreams.sourceOverlapRegisters(docsBatch, "text",
      "source", k = 64)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val a = TextOps.minhashRegisterOverlap(streamed, "source").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    val b = TextOps.minhashRegisterOverlap(batch, "source").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(a == b && a.nonEmpty)
  }

  test("streaming HLL registers equal the batch sketch") {
    // max(rho) is duplicate-insensitive, so the stream twin skips the
    // batch path's distinct (dedupTerms = false) and still lands on
    // the IDENTICAL register table — one complete-mode agg, state
    // bounded by groups x 2^p.
    val schema = docsBatch.schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = TextOps.hllRegisters(
        stream.select(col("source"), col("text")), "source",
        explode(TextOps.tokens(col("text"))), p = 6, dedupTerms = false)
      .writeStream.outputMode("complete").format("memory")
      .queryName("hll_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("hll_stream")
    val batch = TextOps.hllRegisters(docsBatch, "source",
      explode(TextOps.tokens(col("text"))), p = 6)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // and the estimates from the streamed registers are bit-identical
    val a = TextOps.hllEstimate(streamed, "source", p = 6).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = TextOps.hllEstimate(batch, "source", p = 6).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("greedy BPE tokenization is stream-legal and matches batch exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // BpeEncode is a narrow stateless projection, so the STREAMING twin
    // is the same operator applied to a streaming frame — this pins
    // that it stays legal (no fanOut repartition, no aggregation) and
    // byte-identical across the two execution modes
    val corpus = (0L until 40L).map(i =>
      (i, s"the cat c$i sat on mat m${i % 7} it's low lower ${i * 31}"))
    val docs = corpus.toDF("doc_id", "text")
    val merges = TextOps.bpeTrainMerges(docs, "text", numMerges = 24)
    val want = TextOps.bpeTokenize(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = TextOps.bpeTokenize(
        in.toDF.toDF("doc_id", "text"), "doc_id", "text", merges)
      .writeStream.outputMode("append").format("memory")
      .queryName("bpe_greedy_stream").start()
    in.addData(corpus)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("bpe_greedy_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want,
      s"stream/batch mismatch: only-stream=${got -- want} only-batch=${want -- got}")
  }

  test("unigram Viterbi tokenization is stream-legal and matches batch exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // UnigramEncode is a narrow stateless projection like BpeEncode:
    // train batch-side, apply the SAME operator to a streaming frame;
    // the model rides a broadcast created once per call, not per
    // micro-batch plan
    val corpus = (0L until 40L).map(i =>
      (i, s"the cat c$i sat on mat m${i % 7} it's low lower ${i * 31}"))
    val docs = corpus.toDF("doc_id", "text")
    val model = TextOps.unigramTrainScores(docs, "doc_id", "text",
        vocabSize = 32, maxPieceLen = 6)
      .select("piece", "score_micro").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = TextOps.unigramTokenizeWith(docs, "doc_id", "text", model, 6)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = TextOps.unigramTokenizeWith(
        in.toDF.toDF("doc_id", "text"), "doc_id", "text", model, 6)
      .writeStream.outputMode("append").format("memory")
      .queryName("unigram_stream").start()
    in.addData(corpus)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("unigram_stream")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want,
      s"stream/batch mismatch: only-stream=${got -- want} only-batch=${want -- got}")
  }
}
