package graft.text

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rank-greedy BPE application, the kernel behind
  * [[TextOps.bpeTokenize]]: per PRETOKEN, repeatedly merge the
  * lowest-rank adjacent symbol pair present in the table (all
  * occurrences, leftmost-first) until none remains — the GPT-2
  * `encoder.py` application semantics. (The reference library has no
  * tokenizer — this operator belongs to the training-data extension
  * surface.) Cost per document is O(symbols x merges-APPLIED) with
  * O(1) expression nodes and O(table) broadcast state, independent of
  * table depth.
  *
  * Equivalence contract (BpeSpec pins it against a naive per-pretoken
  * fold): for TRAINED tables — where every merge's two sides are
  * single symbols or products of earlier-ranked merges, which is what
  * [[TextOps.bpeTrainMerges]] produces by construction — the greedy
  * result equals applying each merge once in rank order, the shape
  * the DuckDB oracle (`bpeOracleSql`) mirrors. For arbitrary
  * (non-trained) tables the two diverge (a low-rank merge whose sides
  * only materialize via a higher-rank merge is applied here, skipped
  * by the single rank-order pass); the greedy semantics is
  * authoritative — it is what reference BPE encoders implement.
  */
object BpeApply {

  private val Pretoken = java.util.regex.Pattern.compile(TextOps.BpePattern)

  /** Compiled merge table: (left, right) -> rank, plus the encode
    * kernel. Built once per [[TextOps.bpeTokenize]] call and shipped to
    * executors as one TorrentBroadcast (~bytes per merge — a 32k-merge
    * tokenizer is a sub-MB broadcast, the model-sized-state pattern). */
  final class MergeTable(merges: Seq[(String, String)]) extends Serializable {
    // Two-level map keyed (left -> right -> rank): unambiguous for ANY
    // symbol content (a single concatenated-string key needs a
    // separator, and no separator byte is safe -- crawled text can
    // carry any code point into a symbol) and allocation-free on the
    // hot lookup path.
    private val rank =
      new java.util.HashMap[String, java.util.HashMap[String, Integer]](
        math.max(16, merges.size * 2))
    merges.iterator.zipWithIndex.foreach { case ((l, r), i) =>
      // first occurrence wins (a duplicated pair's later rank can never
      // be the lowest one present)
      rank.computeIfAbsent(l, _ => new java.util.HashMap[String, Integer](4))
        .putIfAbsent(r, Integer.valueOf(i))
    }

    private def lookup(l: String, r: String): Integer = {
      val m = rank.get(l)
      if (m == null) null else m.get(r)
    }

    /** Greedy merge of one pretoken's symbol array in place; returns
      * the surviving symbol count. */
    private def mergeSyms(syms: Array[String], n0: Int): Int = {
      var n = n0
      while (n >= 2) {
        var best = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < n - 1) {
          val r = lookup(syms(i), syms(i + 1))
          if (r != null && r < bestRank) { bestRank = r; best = i }
          i += 1
        }
        if (best < 0) return n
        val l = syms(best)
        val r = syms(best + 1)
        val lr = l + r
        var w = 0
        var j = 0
        while (j < n) {
          if (j < n - 1 && syms(j) == l && syms(j + 1) == r) {
            syms(w) = lr; j += 2
          } else { syms(w) = syms(j); j += 1 }
          w += 1
        }
        n = w
      }
      n
    }

    /** Pretokenize with [[TextOps.BpePattern]], map pretoken spaces to
      * the visible-space mark, split to code-point symbols, greedy-
      * merge, emit all surviving symbols single-space-joined. */
    def encode(text: UTF8String): UTF8String = {
      val s = text.toString
      val m = Pretoken.matcher(s)
      val sb = new java.lang.StringBuilder(s.length + (s.length >> 1))
      var syms = new Array[String](16)
      while (m.find()) {
        val tok = m.group().replace(' ', TextOps.BpeSpaceMark.charAt(0))
        if (tok.length > syms.length) syms = new Array[String](tok.length)
        var i = 0
        var n = 0
        while (i < tok.length) {
          val cp = tok.codePointAt(i)
          val w = Character.charCount(cp)
          syms(n) = tok.substring(i, i + w)
          n += 1
          i += w
        }
        val kept = mergeSyms(syms, n)
        var k = 0
        while (k < kept) {
          if (sb.length > 0) sb.append(' ')
          sb.append(syms(k))
          k += 1
        }
      }
      UTF8String.fromString(sb.toString)
    }
  }
}

/** `BpeEncode(text, table)`: string -> space-joined BPE symbols via
  * the rank-greedy kernel; stays inside whole-stage codegen. The
  * expression serializes only the broadcast handle, so a
  * production-depth table (30-50k merges) distributes once per
  * application instead of riding every task binary. */
case class BpeEncode(child: Expression,
    table: Broadcast[BpeApply.MergeTable]) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"BpeEncode requires a string input, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    table.value.encode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((${classOf[BpeApply.MergeTable].getName}) $ref.value()).encode($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}
