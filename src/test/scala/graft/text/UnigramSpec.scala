package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Unigram-LM tokenizer: Viterbi optimality (beats greedy), the
  * deterministic tie-break ladder, UNK fallback, training selection,
  * and the train-then-apply composition. */
class UnigramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val M = 1000000L // micro-unit scale

  private def tok(text: String, vocab: Seq[(String, Long)],
      maxPieceLen: Int = 8): (String, Long, Long) = {
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextOps.unigramTokenizeWith(df, "doc_id", "text", vocab,
      maxPieceLen).collect().head
    (r.getString(1), r.getLong(3), r.getLong(2)) // (pieces, score, n)
  }

  test("Viterbi beats left-to-right greedy longest-match") {
    // greedy from the left takes "ab" then is stuck with expensive "c"
    // (-1 + -10 = -11); the optimum is "a bc" (-3 + -2 = -5)
    val vocab = Seq("ab" -> -1L * M, "c" -> -10L * M,
      "a" -> -3L * M, "bc" -> -2L * M, "b" -> -10L * M)
    val (pieces, score, n) = tok("abc", vocab)
    assert(pieces == "a bc" && score == -5L * M && n == 2, s"$pieces $score")
  }

  test("score tie resolves to fewer pieces") {
    // "aa aa" and "a a a a" both score -4: the 2-piece split must win
    val vocab = Seq("aa" -> -2L * M, "a" -> -1L * M)
    val (pieces, _, n) = tok("aaaa", vocab)
    assert(pieces == "aa aa" && n == 2, pieces)
  }

  test("full (score, count) tie resolves to the longer last piece") {
    // "ab c" and "a bc" both score -4 with 2 pieces; the comparator
    // prefers the LONGER piece ending each DP position, so at position
    // 3 the l=2 candidate ("bc") wins
    val vocab = Seq("ab" -> -2L * M, "c" -> -2L * M,
      "a" -> -2L * M, "bc" -> -2L * M, "b" -> -9L * M)
    val (pieces, score, n) = tok("abc", vocab)
    assert(pieces == "a bc" && score == -4L * M && n == 2, pieces)
  }

  test("unknown characters fall back to UNK singles at the penalty score") {
    val vocab = Seq("a" -> -1L * M)
    val (pieces, score, n) = tok("axa", vocab)
    assert(pieces == "a x a" && n == 3, pieces)
    assert(score == -2L * M + UnigramApply.UnkScoreMicro)
  }

  test("tokenization grain is tokens(): lowercased, punctuation splits words") {
    val vocab = Seq("ab" -> -1L * M, "a" -> -2L * M, "b" -> -2L * M)
    val (pieces, score, n) = tok("AB, ab! ab", vocab)
    assert(pieces == "ab ab ab" && n == 3 && score == -3L * M, pieces)
    val (p2, s2, n2) = tok(".,;", vocab)
    assert(p2 == "" && s2 == 0L && n2 == 0)
  }

  test("maxPieceLen bounds the DP: a longer vocab piece is unreachable") {
    val vocab = Seq("abcd" -> -1L * M, "ab" -> -3L * M, "cd" -> -3L * M,
      "a" -> -9L * M, "b" -> -9L * M, "c" -> -9L * M, "d" -> -9L * M)
    val (full, _, _) = tok("abcd", vocab, maxPieceLen = 8)
    assert(full == "abcd")
    val (capped, _, _) = tok("abcd", vocab, maxPieceLen = 2)
    assert(capped == "ab cd", capped)
  }

  test("training keeps every single char plus top-V multis; scores are ln micro") {
    // words: "aa" x3, "ab" x1 -> singles a (freq 3*2+1=7? -> a appears
    // in aa twice per occurrence and ab once), b; multis: "aa" (3), "ab" (1)
    val df = Seq((1L, "aa aa aa ab")).toDF("doc_id", "text")
    val m = TextOps.unigramTrainScores(df, "doc_id", "text",
        vocabSize = 1, maxPieceLen = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // singles: a freq 7 (2 per "aa" x3 + 1 in "ab"), b freq 1;
    // multis top-1 by freq: "aa" freq 3 ("ab" freq 1 cut)
    assert(m.map(x => (x._1, x._2)).toSeq ==
      Seq(("a", 7L), ("aa", 3L), ("b", 1L)), m.toSeq)
    val total = 7.0 + 3.0 + 1.0
    m.foreach { case (_, f, s) =>
      assert(s == math.round(BigDecimal(math.log(f / total) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
  }

  test("EM step counts Viterbi pieces, re-scores, prunes the unused") {
    // corpus "ab" x3: seed vocab = {a:3, b:3, ab:3} (all score ln(1/3));
    // the decode picks "ab" everywhere (fewer pieces on the score tie),
    // so EM counts {ab: 3}, prunes the orphaned singles, and re-scores
    // ab to ln(3/3) = 0
    val df = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val seed = TextOps.unigramTrainScores(df, "doc_id", "text",
        vocabSize = 4, maxPieceLen = 2)
      .select("piece", "score_micro").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val em = TextOps.unigramEmStep(df, "doc_id", "text", seed, maxPieceLen = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(em.toSeq == Seq(("ab", 3L, 0L)), em.toSeq)
    // a character orphaned by pruning decodes via the UNK lattice entry
    val emVocab = em.map(x => (x._1, x._3)).toSeq
    val other = Seq((9L, "ba")).toDF("doc_id", "text")
    val r = TextOps.unigramTokenizeWith(other, "doc_id", "text",
      emVocab, maxPieceLen = 2).collect().head
    assert(r.getString(1) == "b a" &&
      r.getLong(3) == 2 * UnigramApply.UnkScoreMicro)
  }

  test("EM round never decreases corpus log-likelihood (M-step optimality)") {
    // L(new model, new seg) >= L(new model, old seg) (Viterbi optimal)
    // >= L(old model, old seg) (MLE re-score of the old counts)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def total(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("score_micro")).collect().head.getLong(0)
    val seedScore = total(TextOps.unigramTokenize(
      docs, "doc_id", "text", vocabSize = 64, maxPieceLen = 8))
    val emScore = total(TextOps.unigramTokenizeEm(
      docs, "doc_id", "text", vocabSize = 64, maxPieceLen = 8, emRounds = 1))
    assert(emScore >= seedScore, s"$emScore < $seedScore")
    // zero rounds degenerates to the plain seed decode
    val zero = total(TextOps.unigramTokenizeEm(
      docs, "doc_id", "text", vocabSize = 64, maxPieceLen = 8, emRounds = 0))
    assert(zero == seedScore)
  }

  test("the vocab rides a broadcast, not the plan") {
    // every task deserializes the expression, so a production-size
    // model must not grow it
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    def exprBytes(vocab: Seq[(String, Long)]): Int = {
      val enc = TextOps.unigramTokenizeWith(df, "doc_id", "text", vocab)
        .queryExecution.analyzed.flatMap(_.expressions)
        .flatMap(_.collect { case e: UnigramEncode => e }).head
      TestSpark.serializedBytes(enc)
    }
    val vocab = Seq("ab" -> -1L * M, "c" -> -2L * M)
    val big = vocab ++ (0 until 100000).map(i => (s"_pad_$i", -20L * M))
    assert(exprBytes(big) < 2 * exprBytes(vocab))
  }

  test("shipped-model apply matches the in-process kernel, doc by doc") {
    // the model reaches the executors as a broadcast; decoding the same
    // texts with the kernel in this JVM must give the same rows
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = TextOps.unigramTrainScores(docs, "doc_id", "text",
        vocabSize = 64, maxPieceLen = 8)
      .select("piece", "score_micro").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = TextOps.unigramTokenizeWith(docs, "doc_id", "text", model, 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val kernel = new UnigramApply.Vocab(model, 8)
    val want = docs.select("doc_id", "text").orderBy("doc_id").collect()
      .map { r =>
        val e = kernel.encode(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
        (r.getLong(0), e.getUTF8String(0).toString, e.getInt(2).toLong,
          e.getLong(1))
      }
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("train-then-apply over real docs: deterministic, pieces reassemble words") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.unigramTokenize(docs, "doc_id", "text",
      vocabSize = 64, maxPieceLen = 8).cache()
    assert(out.count() == docs.count())
    // pieces with separators stripped reassemble the tokenized text
    val bad = out.join(docs, "doc_id")
      .withColumn("__want",
        concat_ws("", TextOps.tokens(col("text"))))
      .filter(replace(col("pieces"), lit(" "), lit("")) =!= col("__want"))
      .count()
    assert(bad == 0, "piece concatenation must reproduce the token stream")
    // n_pieces between token count and char count of the token stream
    val oob = out.join(docs, "doc_id")
      .withColumn("__nt", size(TextOps.tokens(col("text"))).cast("long"))
      .withColumn("__nc",
        length(concat_ws("", TextOps.tokens(col("text")))).cast("long"))
      .filter(col("n_pieces") < col("__nt") || col("n_pieces") > col("__nc"))
      .count()
    assert(oob == 0)
    // determinism under repartitioning
    val b = TextOps.unigramTokenize(docs.repartition(7), "doc_id", "text",
      vocabSize = 64, maxPieceLen = 8)
    assert(out.join(b.withColumnRenamed("pieces", "p2")
        .withColumnRenamed("score_micro", "s2"), "doc_id")
      .filter(col("pieces") =!= col("p2") ||
        col("score_micro") =!= col("s2")).count() == 0)
    out.unpersist()
  }
}
