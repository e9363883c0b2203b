package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.text.TextOps

/** Stage-accountability spec for the composed crawl-to-shards
  * pipeline: a small corpus planted with one victim per gate, then an
  * assertion that each victim is excluded for exactly its reason and
  * that the composition agrees with running the stages by hand. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 40-token English filler; the id is embedded in every content token
  // so no two docs share a token run and near-dup machinery only fires
  // where planted (a modular construction here aligned ids 31..39 with
  // 0..8 as 33-token shared runs — genuine near-dups)
  private def body(id: Long): String =
    (0 until 40).map(i => s"w${id}n$i")
      .mkString("the and of to in ", " ", " end")

  private lazy val corpus: DataFrame = {
    val rows = Seq.newBuilder[(Long, String, String)]
    for (id <- 0L until 40L) rows += ((id, body(id), s"src${id % 2}"))
    rows += ((100L, body(3), "src0"))              // exact dup of id 3
    rows += ((101L, body(5) + " tinyedit", "src0"))// near dup of id 5
    rows += ((102L, "le chat sur le tapis et le chien dans la rue " * 4,
      "src1"))                                     // off-language
    rows += ((103L, "too short", "src0"))          // fails token floor
    rows += ((104L, ("spam " * 50).trim, "src0"))  // top-word frac 1.0
    spark.createDataFrame(rows.result()).toDF("doc_id", "text", "source")
  }

  // bench = doc 7's full text: decontamination must remove doc 7 (and
  // only doc 7 — every other doc's 13-grams are unique by construction)
  private lazy val bench =
    Seq((7L, body(7))).toDF("doc_id", "text")

  private lazy val out = Pipeline.corpusToShards(corpus, bench,
    "doc_id", "text", "source", minTokens = 20, maxTokens = 80,
    budgetTokens = 10000).cache()

  test("every planted victim is excluded, every clean doc survives") {
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(100L), "exact dup survived")
    assert(!kept.contains(101L) || !kept.contains(5L),
      "both members of the near-dup pair survived")
    assert(!kept.contains(102L), "off-language doc survived")
    assert(!kept.contains(103L), "sub-minTokens doc survived")
    assert(!kept.contains(104L), "degenerate top-word doc survived")
    assert(!kept.contains(7L), "benchmark-contaminated doc survived")
    // the un-planted docs all pass every gate (one of {5,101} also
    // survives as its near-dup cluster's canonical member)
    val expectedCore = (0L until 40L).toSet - 7L - 5L
    assert((expectedCore -- kept).isEmpty,
      s"clean docs were dropped: ${expectedCore -- kept}")
  }

  test("composition agrees with the hand-run stage chain") {
    val curated = TextOps.curateCorpus(corpus.select("doc_id", "text"),
      "doc_id", "text")
    val flagged = TextOps.decontaminate(curated, bench, "doc_id", "text", 13)
    val clean = curated.join(flagged.select("doc_id"), Seq("doc_id"),
        "left_anti")
      .join(corpus.select("doc_id", "source"), Seq("doc_id"))
    val budgeted = TextOps.tokenBudgetSample(clean, "doc_id", "text",
      "source", 10000L)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      budgeted.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("bins are contiguous-fill over survivors and splits are leak-safe") {
    // bin must equal packSequences' formula applied to the survivor set
    val byBin = out.orderBy("source", "doc_id")
      .select("source", "n_tokens", "bin").as[(String, Long, Long)]
      .collect().groupBy(_._1)
    for ((_, rows) <- byBin) {
      var cum = 0L
      for ((_, n, bin) <- rows) {
        assert(bin === cum / 512, "bin diverges from contiguous fill")
        cum += n
      }
    }
    // near-dup survivors share a split with their cluster: rebuild the
    // expected assignment from leakSafeSplit directly
    val survivors = corpus.join(out.select("doc_id"), Seq("doc_id"),
      "left_semi")
    val expected = TextOps.leakSafeSplit(survivors, "doc_id", "text", 0.2)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val got = out.select("doc_id", "split").as[(Long, String)]
      .collect().toMap
    assert(got === expected)
    assert(got.values.toSet.subsetOf(Set("train", "test")))
  }

  test("scrubPii masks survivors scrub-late: token counts shrink, gates unchanged") {
    // plant an email + IP + long digit run on doc 10: raw tokens =
    // contact,bob10,mail,example,com,or,10,0,0,1,ref,123456789012 (12);
    // masked <EMAIL>/<IP>/<NUM> tokens = contact,email,or,ip,ref,num (6)
    val pii = " contact bob10@mail.example.com or 10.0.0.1 ref 123456789012"
    val planted = corpus.select(col("doc_id"),
      when(col("doc_id") === 10L, concat(col("text"), lit(pii)))
        .otherwise(col("text")).as("text"),
      col("source"))
    val raw = Pipeline.corpusToShards(planted, bench, "doc_id", "text",
      "source", budgetTokens = 10000)
    val scrubbed = Pipeline.corpusToShards(planted, bench, "doc_id",
      "text", "source", budgetTokens = 10000, scrubPii = true)
    // same survivor set (curation gates read RAW text in both runs)
    assert(raw.select("doc_id").as[Long].collect().toSet ==
      scrubbed.select("doc_id").as[Long].collect().toSet)
    def tok(df: DataFrame, id: Long): Long =
      df.filter(col("doc_id") === id).select("n_tokens").as[Long].head()
    // doc 10's masked text counts 6 fewer tokens (12 PII -> 6 masks)
    assert(tok(raw, 10L) - tok(scrubbed, 10L) == 6L,
      s"raw=${tok(raw, 10L)} scrubbed=${tok(scrubbed, 10L)}")
    // an unplanted doc is untouched
    assert(tok(raw, 11L) == tok(scrubbed, 11L))
  }

  test("token budget caps each source") {
    val tight = Pipeline.corpusToShards(corpus, bench, "doc_id", "text",
      "source", budgetTokens = 120)
    val perSource = tight.groupBy("source")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
    assert(perSource.nonEmpty)
    for ((src, tot, n) <- perSource) {
      // cum_before < budget admits at most one budget-crossing doc
      val maxDoc = 46L // ~45-token docs
      assert(tot < 120L + maxDoc, s"$src blew the token budget: $tot")
      assert(n >= 1)
    }
  }

  // -- multimodal composition ------------------------------------------------

  test("imageCaptionCurate: byte dedup -> decode -> caption curation") {
    // 20 docs with curation-passing captions; ids 10..14 share ONE
    // image class (identical payload bytes by construction rule), so
    // only the min id survives the byte-dedup stage; id 15's caption is
    // an exact text dup of id 16's, so the caption stage drops 16
    def cap(id: Long): String =
      (0 until 30).map(i => s"w${id}x$i").mkString("the and of to in ", " ", " end")
    val rows = (0L until 20L).map { id =>
      val c = if (id == 16L) cap(15L) else cap(id)
      // image class: ids 10-14 collapse to one class, others unique
      val cls = if (id >= 10L && id <= 14L) 10L else id
      (id, c, cls)
    }
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text", "cls")
    val media = docs.select(col("doc_id"), col("cls")).as[(Long, Long)]
      .map { case (id, cls) =>
        (id, graft.multimodal.Media.buildImage(
          20 + (cls % 7).toInt, 15 + (cls % 5).toInt,
          if (cls % 2 == 0) "png" else "jpg"))
      }.toDF("media_id", "payload")
      .withColumn("kind", lit("image"))
    val out = Pipeline.imageCaptionCurate(media,
        docs.select("doc_id", "text"), "doc_id", "text",
        minTokens = 10, maxTokens = 80)
      .collect().map(_.getLong(0)).sorted
    // image stage: 11-14 die (byte dups of 10)... but also distinct cls
    // values can collide into the same (fmt, w, h) class: cls%7/cls%5/
    // cls%2 cycle with period 70, so ids 0-9 and 15-19 map to distinct
    // classes EXCEPT cls pairs congruent mod 70 - none here below 20.
    // caption stage: 16 dies (exact text dup of 15, min id wins).
    val expected = ((0L to 10L) ++ (15L to 19L)).filterNot(_ == 16L)
    assert(out.toSeq == expected.sorted,
      s"got ${out.mkString(",")} expected ${expected.mkString(",")}")
  }

  test("imageCaptionCurateNearDup: pattern BMPs -> aHash CC -> caption curation, hash = planted pattern") {
    // 15 docs = 3 pattern classes of 5 (syntheticPatternBmps' rule);
    // per class only the min id survives the near-dup image stage; all
    // captions pass the (loosened) curation gate, so the output is one
    // row per class leader whose ahash must equal the planted pattern
    def cap(id: Long): String =
      (0 until 30).map(i => s"w${id}x$i").mkString("the and of to in ", " ", " end")
    val docs = spark.createDataFrame((0L until 15L).map(id => (id, cap(id))))
      .toDF("doc_id", "text")
    val media = graft.multimodal.Media.syntheticPatternBmps(docs, "doc_id")
    val out = Pipeline.captionCurateNearDup(media, docs,
        "doc_id", "text", "image", minTokens = 10, maxTokens = 80)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 5L, 10L), s"got ${out.keySet}")
    // the REAL decode reproduced the planted md5-derived pattern
    out.foreach { case (id, ahash) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"imgcls:${id / 5}".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val expected = java.lang.Long.parseLong(hex.substring(0, 15), 16) ^
        ((1L << (id % 5).toInt) - 1L)
      assert(ahash == expected, s"doc $id: ahash $ahash != planted $expected")
    }
  }

  test("aHash near-dup composition: pairs -> CC -> survivors -> captions") {
    // the oracle-unmirrorable twin (lossy codecs + bilinear resample
    // sit between the rule and the hash), pinned here with planted
    // perturbed copies instead: 3 copies of one base image (1 exact,
    // 1 perturbed near-dup), plus 2 distinct images
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val base = graft.multimodal.Media.decodeImage(
      graft.multimodal.Media.buildImage(64, 64, "png")).get
    def perturb(n: Int) = {
      val c = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) c.setRGB(x, y, base.getRGB(x, y))
      for (i <- 0 until n) c.setRGB(i % 64, i / 64, 0xffffff)
      c
    }
    val far = {
      val c = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64)
        c.setRGB(x, y, ~base.getRGB(x, y) & 0xffffff)
      c
    }
    val media = Seq(
      (1L, png(base)), (2L, png(base)), (3L, png(perturb(40))),
      (4L, png(far)), (5L, png(perturb(2048))))
      .toDF("media_id", "payload")
    val pairs = graft.multimodal.Media.nearDups(media, "image", maxHamming = 6)
      .select("a_id", "b_id")
    val survivors = TextOps.dropNearDuplicates(media, "media_id", pairs)
      .select("media_id")
    val caps = Seq(1L -> "caption one", 2L -> "caption two",
      3L -> "caption three", 4L -> "caption four", 5L -> "caption five")
      .toDF("doc_id", "caption")
    val kept = caps.join(survivors.withColumnRenamed("media_id", "doc_id"),
        Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).sorted
    // 2 (exact copy) and 3 (perturbed) cluster with 1; min id 1 survives;
    // 4 (inverted) and 5 (heavily perturbed) stay distinct
    assert(kept.toSeq == Seq(1L, 4L, 5L), s"got ${kept.mkString(",")}")
  }

  test("crossModalDupClusters merges clusters only text+image see together") {
    import spark.implicits._
    // image classes {0-4} and {5-9} (syntheticPatternBmps' rule);
    // texts: unique per doc EXCEPT ids 4 and 5, which are near-identical
    // — text evidence bridges the two image classes into ONE cluster
    def uniq(id: Long) =
      (0 until 25).map(w => s"u${id}w${id * 13 + w * 7}").mkString(" ")
    val bridge = (0 until 25).map(w => s"bridgew${(w * 3) % 23}").mkString(" ")
    val docs = (0L until 10L).map { id =>
      val text = if (id == 4L) s"$bridge tail4"
        else if (id == 5L) s"$bridge tail5" else uniq(id)
      (id, text)
    }.toDF("doc_id", "text")
    val media = graft.multimodal.Media.syntheticPatternBmps(docs, "doc_id")
    val clusters = Pipeline.crossModalDupClusters(media, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 10L).forall(clusters(_) == 0L),
      s"text bridge 4~5 must merge both image classes: $clusters")
    // without the bridge, the same media yields two separate clusters
    val docsNoBridge = (0L until 10L).map(id => (id, uniq(id)))
      .toDF("doc_id", "text")
    val c2 = Pipeline.crossModalDupClusters(
        graft.multimodal.Media.syntheticPatternBmps(docsNoBridge, "doc_id"),
        docsNoBridge, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 10L).forall(id => c2(id) == (id / 5) * 5), s"$c2")
  }

  test("audioCaptionCurate: byte dedup, duration gate, caption curation") {
    def cap(id: Long): String =
      (0 until 30).map(i => s"w${id}x$i").mkString("the and of to in ", " ", " end")
    // ids 0-7: distinct sample counts (>= 2 windows, pass); id 8 is a
    // byte dup of id 0 (same nSamples -> identical WAV); id 9 is a
    // 900-sample stub (1 window -> duration-gated)
    val media = (0L to 9L).map { id =>
      val ns = if (id == 8L) 2000 else if (id == 9L) 900
               else 2000 + 100 * id.toInt
      (id, "audio", graft.multimodal.Media.buildWav(8000, ns))
    }.toDF("media_id", "kind", "payload")
    val docs = (0L to 9L).map(id => (id, cap(id))).toDF("doc_id", "text")
    val out = Pipeline.audioCaptionCurate(media, docs, "doc_id", "text",
        minTokens = 10, maxTokens = 80)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getInt(3))).toMap
    assert(out.keySet == (0L to 7L).toSet, s"got ${out.keySet}")
    // every surviving clip decoded 2 full windows of real PCM, loud
    // enough to clear the silence gate by orders of magnitude
    out.foreach { case (id, (nw, rms, peak)) =>
      assert(nw >= 2L && rms > 1000.0 && peak > 0, s"doc $id: $nw/$rms/$peak")
    }
  }

  test("videoCaptionCurate: byte dedup, frame gate, caption curation") {
    def cap(id: Long): String =
      (0 until 30).map(i => s"w${id}x$i").mkString("the and of to in ", " ", " end")
    // ids 0-5: distinct widths, 2 frames (pass); id 6 duplicates id 0's
    // geometry -> identical MP4 bytes, deduped; id 7 is a single-frame
    // still -> frame-gated
    val media = (0L to 7L).map { id =>
      val (w, nf) = if (id == 6L) (8, 2) else if (id == 7L) (20, 1)
                    else (8 + id.toInt, 2)
      (id, "video", graft.multimodal.Media.buildMp4Frames(w, 6, nf))
    }.toDF("media_id", "kind", "payload")
    val docs = (0L to 7L).map(id => (id, cap(id))).toDF("doc_id", "text")
    val out = Pipeline.videoCaptionCurate(media, docs, "doc_id", "text",
        minTokens = 10, maxTokens = 80)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getDouble(4))).toMap
    assert(out.keySet == (0L to 5L).toSet, s"got ${out.keySet}")
    out.foreach { case (id, (nf, w, mg)) =>
      assert(nf == 2L && w == 8 + id.toInt && mg > 20.0,
        s"doc $id: $nf/$w/$mg")
    }
  }

  test("byte-dedup caption pipelines accept idCol = media_id") {
    // captions keyed by the media's own column name: the join back to
    // the per-media columns must not resolve media_id ambiguously
    def cap(id: Long): String =
      (0 until 30).map(i => s"w${id}x$i").mkString("the and of to in ", " ", " end")
    val m = graft.multimodal.Media
    val ids = 0L until 4L
    val caps = ids.map(id => (id, cap(id))).toDF("media_id", "text")
    def media(kind: String, build: Long => Array[Byte]): DataFrame =
      ids.map(id => (id, kind, build(id))).toDF("media_id", "kind", "payload")
    val outs = Seq(
      Pipeline.imageCaptionCurate(
        media("image", id => m.buildImage(20 + id.toInt, 15, "png")),
        caps, "media_id", "text", minTokens = 10, maxTokens = 80),
      Pipeline.audioCaptionCurate(
        media("audio", id => m.buildWav(8000, 2000 + 100 * id.toInt)),
        caps, "media_id", "text", minTokens = 10, maxTokens = 80),
      Pipeline.videoCaptionCurate(
        media("video", id => m.buildMp4Frames(8 + id.toInt, 6, 2)),
        caps, "media_id", "text", minTokens = 10, maxTokens = 80))
    for (out <- outs) {
      assert(out.columns.head == "media_id" && out.columns.last == "n_tokens",
        out.columns.mkString(","))
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == ids,
        out.columns.mkString(","))
    }
  }

  test("near-dup caption pipelines reject an unknown kind before any job") {
    // a Spark job that read this payload would fail with a
    // SparkException, not the kind table's IllegalArgumentException
    val poison = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("payload was read")
      Array.emptyByteArray
    }
    val media = spark.range(3).select(col("id").as("media_id"),
      lit("text").as("kind"), poison(col("id")).as("payload"))
    val caps = spark.range(3).select(col("id").as("doc_id"),
      lit("a caption").as("text"))
    for (run <- Seq[() => DataFrame](
        () => Pipeline.captionCurateNearDup(media, caps, "doc_id", "text", "text"),
        () => Pipeline.modalFunnel(media, caps, "doc_id", "text", "text"))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("image, audio, video"), e.getMessage)
    }
  }
}
