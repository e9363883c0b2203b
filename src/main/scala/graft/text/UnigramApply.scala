package graft.text

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-family) Viterbi segmentation — the second
  * tokenizer family next to [[BpeEncode]]'s BPE: given a vocabulary of
  * pieces with log-probability scores, each word is segmented into the
  * piece sequence of MAXIMUM total score by exact dynamic programming
  * (Kudo 2018, "Subword Regularization", the Viterbi decode
  * SentencePiece ships as its default). (The reference library has no
  * tokenizer — this operator belongs to the training-data extension
  * surface.)
  *
  * Arithmetic is EXACT: scores are 6-dp micro-unit LONGS
  * (round(ln(p) * 1e6)), so the DP is pure integer addition and the
  * result is bit-identical across engines, partitionings and platforms
  * — the same discipline as [[TextOps.bm25Rank]]. Determinism of the
  * segmentation itself: at every DP position the candidate comparator
  * is (higher total score, then FEWER pieces, then the LONGER last
  * piece) — a total order, so the emitted piece sequence is unique.
  *
  * Words are [[TextKernels.tokens]] tokens (lowercased alphanumeric
  * runs) — the library's one tokenization grain, shared with the
  * shingle/dedup tier and the DuckDB mirrors. A character with no
  * single-char vocab entry falls back to an UNK piece (the char
  * itself) at [[UnigramApply.UnkScoreMicro]]; trained vocabularies
  * ([[TextOps.unigramTrainScores]]) contain every corpus character, so
  * UNK fires only on apply-time unseen characters.
  *
  * Cost per document is O(chars x maxPieceLen) with O(1) expression
  * nodes and O(vocab) broadcast state — a narrow codegen'd projection,
  * no join, no shuffle: the 100-TB apply path. The model ships once
  * as a TorrentBroadcast, so its size adds no per-task cost (BASELINE.md
  * "Unigram tokenizer scale": a 1M-entry model applies in the time of
  * an 88-piece one).
  */
object UnigramApply {

  /** Score of a character absent from the vocabulary: e^-25 ≈ 1.4e-11,
    * far below any trained piece so UNK never beats a real
    * segmentation. */
  val UnkScoreMicro: Long = -25000000L

  /** Compiled vocabulary: piece -> micro-unit log score, plus the
    * Viterbi kernel. Built once per [[TextOps.unigramTokenizeWith]]
    * call and shipped to executors as one TorrentBroadcast (sub-MB at
    * a 32k vocab — the model-sized-state pattern [[BpeApply.MergeTable]]
    * set). */
  final class Vocab(pieces: Seq[(String, Long)], maxPieceLen: Int)
      extends Serializable {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    private val score = new java.util.HashMap[String, java.lang.Long](
      math.max(16, pieces.size * 2))
    pieces.foreach { case (p, s) =>
      score.putIfAbsent(p, java.lang.Long.valueOf(s))
    }

    /** Viterbi-segment one word (non-empty, no spaces); appends pieces
      * to `sb` (space-separated, continuing any existing content) and
      * returns (totalScoreMicro, nPieces). */
    private def segment(word: String, sb: java.lang.StringBuilder): (Long, Int) = {
      val len = word.length
      val bestS = new Array[Long](len + 1)
      val bestN = new Array[Int](len + 1)
      val bestL = new Array[Int](len + 1)
      var i = 1
      while (i <= len) {
        var bs = Long.MinValue
        var bn = Int.MaxValue
        var bl = 0
        // scan lengths LONGEST first with strictly-better comparison,
        // so a full (score, pieces) tie keeps the longest last piece.
        // An out-of-vocabulary single character enters the lattice as
        // a regular candidate at UnkScoreMicro (SentencePiece's
        // unknown-symbol treatment), so the DP is total for any input
        // and the rule mirrors as one anti-join leg per position.
        var l = math.min(i, maxPieceLen)
        while (l >= 1) {
          val sc = score.get(word.substring(i - l, i))
          val scv: Long =
            if (sc != null) sc.longValue()
            else if (l == 1) UnkScoreMicro
            else Long.MinValue
          if (scv != Long.MinValue) {
            val cs = bestS(i - l) + scv
            val cn = bestN(i - l) + 1
            if (cs > bs || (cs == bs && cn < bn)) { bs = cs; bn = cn; bl = l }
          }
          l -= 1
        }
        bestS(i) = bs; bestN(i) = bn; bestL(i) = bl
        i += 1
      }
      // backtrace: collect piece start offsets, then emit in order
      val starts = new Array[Int](bestN(len))
      var p = len
      var k = bestN(len)
      while (p > 0) { k -= 1; starts(k) = p - bestL(p); p -= bestL(p) }
      k = 0
      while (k < starts.length) {
        if (sb.length > 0) sb.append(' ')
        val end = if (k + 1 < starts.length) starts(k + 1) else len
        sb.append(word, starts(k), end)
        k += 1
      }
      (bestS(len), bestN(len))
    }

    /** Encode a document: tokenize ([[TextKernels.tokens]] semantics),
      * Viterbi-segment each token, return (pieces space-joined across
      * all tokens, total score micro, total piece count). */
    def encode(text: UTF8String): InternalRow = {
      val toks = TextKernels.tokens(text)
      val n = toks.numElements()
      val sb = new java.lang.StringBuilder(text.numBytes() + 16)
      var total = 0L
      var count = 0
      var i = 0
      while (i < n) {
        val (s, c) = segment(toks.getUTF8String(i).toString, sb)
        total += s
        count += c
        i += 1
      }
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(sb.toString), total, count))
    }
  }
}

/** `UnigramEncode(text, vocab)`: string -> struct(pieces string,
  * score_micro long, n_pieces int) via the Viterbi kernel; stays
  * inside whole-stage codegen, and the expression serializes only the
  * broadcast handle ([[BpeEncode]]'s pattern). */
case class UnigramEncode(child: Expression,
    vocab: Broadcast[UnigramApply.Vocab]) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"UnigramEncode requires a string input, got ${child.dataType.catalogString}")
  override def dataType: DataType = StructType(Seq(
    StructField("pieces", StringType, nullable = false),
    StructField("score_micro", LongType, nullable = false),
    StructField("n_pieces", IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    vocab.value.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramVocab", vocab,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((${classOf[UnigramApply.Vocab].getName}) $ref.value()).encode($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): UnigramEncode =
    copy(child = newChild)
}
