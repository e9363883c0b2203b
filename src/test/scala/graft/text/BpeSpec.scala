package graft.text

import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Trained-BPE parity against an INDEPENDENT naive implementation:
  * the reference here is the textbook per-word merge loop (Sennrich
  * 2016) over in-memory maps, and application is a per-pretoken
  * chained fold of the merges in rank order — none of TextOps's
  * representation or BpeEncode's rank-greedy scan, so a bug in either
  * cannot hide by being mirrored in the check. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val corpus = Seq(
    0L -> "the cat sat on the mat",
    1L -> "the cats sat on the mats",
    2L -> "low lower lowest slow slower slowest",
    3L -> "new newer newest knew news renew",
    4L -> "the the the thorn then there these",
    5L -> "numbers 123 1234 12345 and sym!!! ???",
    6L -> "  double  spaced   and trailing ",
    7L -> "it's we're they'll I'd you've I'm don't")

  private def df = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
  }

  // -- naive reference ------------------------------------------------------

  private def refPretokens(text: String): Seq[String] =
    TextOps.BpePattern.r.findAllIn(text).toSeq

  /** One symbol per code point, so a surrogate pair is one symbol. */
  private def refSymbols(tok: String): Vector[String] =
    tok.replace(" ", TextOps.BpeSpaceMark).codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toVector

  private def refMergeOnce(syms: Vector[String],
      m: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** `n` merges, or fewer when `stopAtExhaustion` and no pair is left. */
  private def refTrain(texts: Seq[String], n: Int,
      stopAtExhaustion: Boolean = false): Seq[(String, String)] = {
    val wc = mutable.LinkedHashMap[String, Long]()
    texts.foreach(t => refPretokens(t).foreach(w =>
      wc(w) = wc.getOrElse(w, 0L) + 1))
    var vocab: Map[Vector[String], Long] =
      wc.map { case (w, c) => refSymbols(w) -> c }.toMap
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    while (m < n) {
      val pairs = mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (pairs.isEmpty && stopAtExhaustion) return merges.result()
      val best = pairs.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.head._1
      merges += best
      vocab = vocab.toSeq.map { case (syms, c) => (refMergeOnce(syms, best), c) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      m += 1
    }
    merges.result()
  }

  /** Per pretoken, each merge applied once in rank order. `memo` lets a
    * caller reuse pretoken results across documents under one table. */
  private def refTokenize(text: String, merges: Seq[(String, String)],
      memo: mutable.Map[String, Vector[String]] = mutable.Map()): Seq[String] =
    refPretokens(text).flatMap { tok =>
      memo.getOrElseUpdate(tok, merges.foldLeft(refSymbols(tok))(refMergeOnce))
    }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  private def refRows(docs: Seq[(Long, String)],
      merges: Seq[(String, String)]) = {
    val memo = mutable.Map[String, Vector[String]]()
    docs.sortBy(_._1).map { case (id, text) =>
      val toks = refTokenize(text, merges, memo)
      (id, toks.length.toLong, toks.mkString(" "))
    }
  }

  // -- specs ----------------------------------------------------------------

  test("bpeTrainMerges matches the naive per-word merge loop") {
    val got = TextOps.bpeTrainMerges(df, "text", numMerges = 16)
    val want = refTrain(corpus.map(_._2), 16)
    assert(got == want)
  }

  test("bpeTokenize matches the naive application, doc by doc") {
    val merges = TextOps.bpeTrainMerges(df, "text", numMerges = 16)
    val got = TextOps.bpeTokenize(df, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val want = corpus.map { case (id, text) =>
      val toks = refTokenize(text, merges)
      (id, toks.length.toLong, toks.mkString(" "))
    }
    assert(got == want)
  }

  test("tokenization is lossless: unmarked tokens concatenate to the text") {
    val merges = TextOps.bpeTrainMerges(df, "text", numMerges = 10)
    val got = TextOps.bpeTokenize(df, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    corpus.zip(got).foreach { case ((_, text), row) =>
      val rebuilt = row.getString(2).split(" ", -1).mkString("")
        .replace(TextOps.BpeSpaceMark, " ")
      assert(rebuilt == text, s"doc ${row.getLong(0)}")
    }
  }

  test("token counts sit between pretoken and char counts; 0 merges = chars") {
    val merges = TextOps.bpeTrainMerges(df, "text", numMerges = 16)
    val joined = TextOps.bpeTokenize(df, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_tokens"))
      .join(TextOps.bpeTokenStats(df, "doc_id", "text"), "doc_id")
      .collect()
    joined.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      assert(n >= r.getAs[Long]("n_bpe_tokens"), "one+ symbols per pretoken")
      assert(n <= r.getAs[Long]("n_chars"), "merging never adds symbols")
    }
    // with an empty merge table every char (space -> mark) is a token
    val noMerge = TextOps.bpeTokenize(df, "doc_id", "text", Nil)
      .join(TextOps.bpeTokenStats(df, "doc_id", "text"), "doc_id")
      .filter(col("n_tokens") =!= col("n_chars"))
    assert(noMerge.count() == 0)
  }

  test("trained tokens feed the token-budget operators directly") {
    val merges = TextOps.bpeTrainMerges(df, "text", numMerges = 16)
    val toks = TextOps.bpeTokenize(df, "doc_id", "text", merges)
    // truncateTokens on the BPE token string budgets in BPE tokens
    val tr = TextOps.truncateTokens(toks, "doc_id", "tokens",
        maxTokens = 5, headFrac = 1.0)
      .collect()
    tr.foreach { r =>
      val kept = r.getString(2).split(" ", -1).count(_.nonEmpty)
      assert(kept <= 5 || !r.getBoolean(3))
      if (r.getBoolean(3)) assert(kept == 5)
    }
    assert(tr.exists(_.getBoolean(3)), "some docs exceed 5 BPE tokens")
  }

  test("training fails loudly when the corpus runs out of pairs") {
    import spark.implicits._
    val tiny = Seq((0L, "a b")).toDF("doc_id", "text")
    // pretokens "a", " b" -> symbols [a], [Ġ, b]: exactly one pair exists
    val one = TextOps.bpeTrainMerges(tiny, "text", numMerges = 1)
    assert(one == Seq((TextOps.BpeSpaceMark, "b")))
    assertThrows[IllegalArgumentException] {
      TextOps.bpeTrainMerges(tiny, "text", numMerges = 3)
    }
    // the opt-in exhaustion mode returns the shorter authoritative table
    assert(TextOps.bpeTrainMerges(tiny, "text", numMerges = 3,
      stopAtExhaustion = true) == one)
  }

  test("trainer matches the naive reference at full exhaustion") {
    // full exhaustion depth, where ties and degenerate words pile up
    val got = TextOps.bpeTrainMerges(df, "text", numMerges = 10000,
      stopAtExhaustion = true)
    assert(got.size < 10000, "fixture corpus must exhaust")
    assert(got == refTrain(corpus.map(_._2), 10000, stopAtExhaustion = true))
  }

  // -- rank-greedy kernel against the naive chained fold --------------------

  test("greedy kernel is bit-identical to the chained fold on trained tables") {
    // 4, 12, and full-exhaustion depth: the equivalence contract the
    // BpeEncode Expression documents (trained tables only — every
    // merge's sides predate it, so the fold can never miss one)
    for (n <- Seq(4, 12, 64)) {
      val merges = TextOps.bpeTrainMerges(df, "text", numMerges = n,
        stopAtExhaustion = true)
      assert(rows(TextOps.bpeTokenize(df, "doc_id", "text", merges)) ==
        refRows(corpus, merges), s"greedy != fold at $n merges")
    }
  }

  test("greedy kernel matches the fold on the real corpus at exhaustion") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val merges = TextOps.bpeTrainMerges(docs, "text", numMerges = 500,
      stopAtExhaustion = true)
    assert(merges.nonEmpty)
    val texts = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows(TextOps.bpeTokenize(docs, "doc_id", "text", merges)) ==
      refRows(texts, merges))
  }

  test("a 1024-merge table on hex words matches the chained fold") {
    // hex words sustain realistic depth (the sf corpus exhausts at ~126
    // merges); the table's depth must not reach the expression tree
    import spark.implicits._
    val hex = (0L until 300L).map { i =>
      val h = (0 until 6).map { j =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$i:$j".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }
      (i, h.mkString(" "))
    }
    val docs = hex.toDF("doc_id", "text")
    val merges = TextOps.bpeTrainMerges(docs, "text", numMerges = 1024)
    assert(merges.size == 1024)
    assert(rows(TextOps.bpeTokenize(docs, "doc_id", "text", merges)) ==
      refRows(hex, merges))
  }

  test("the merge table rides a broadcast, not the plan") {
    // every task deserializes the expression, so a deep table must not
    // grow it
    def exprBytes(merges: Seq[(String, String)]): Int = {
      val enc = TextOps.bpeTokenize(df, "doc_id", "text", merges)
        .queryExecution.analyzed.flatMap(_.expressions)
        .flatMap(_.collect { case e: BpeEncode => e }).head
      TestSpark.serializedBytes(enc)
    }
    val merges = TextOps.bpeTrainMerges(df, "text", numMerges = 16)
    val deep = merges ++ (0 until 100000).map(i => (s"x$i", "y"))
    assert(exprBytes(deep) < 2 * exprBytes(merges))
  }

  test("on NON-trained tables greedy applies the authoritative semantics") {
    import spark.implicits._
    val one = Seq(0L -> "abc").toDF("doc_id", "text")
    // rank0's sides only exist AFTER rank1 runs: the chained fold misses
    // it (single pass in rank order), the greedy kernel applies it — the
    // GPT-2 reference behavior. This is exactly why the equivalence
    // contract is scoped to trained tables.
    val table = Seq(("ab", "c"), ("a", "b"))
    val greedy = TextOps.bpeTokenize(one, "doc_id", "text", table)
      .select("tokens").as[String].head()
    assert(refTokenize("abc", table).mkString(" ") == "ab c")
    assert(greedy == "abc")
  }

  test("greedy kernel handles nulls, empties and surrogate pairs") {
    import spark.implicits._
    val input = Seq((0L, "the cat"), (1L, ""), (2L, "   "),
      (3L, "emoji \ud83d\ude00 pair"), (4L, null))
    val merges = TextOps.bpeTrainMerges(df, "text", numMerges = 8)
    val out = TextOps.bpeTokenize(input.toDF("doc_id", "text"), "doc_id",
        "text", merges)
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    assert(out(1).getLong(1) == 0L && out(1).getString(2) == "")
    assert(out(4).isNullAt(1) && out(4).isNullAt(2))
    // the chained fold agrees on every non-null row
    assert(out.filter(!_.isNullAt(2))
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      refRows(input.filter(_._2 != null), merges))
  }
}
