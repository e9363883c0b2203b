package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Adversarial hot-bucket evidence for [[TextOps.lshCandidatePairs]]:
  * a single-template corpus where HALF the documents are trivial edits
  * of one boilerplate page (the dominant real-crawl skew — think
  * millions of templated product/error pages). Each template doc is
  * byte-distinct (exact dedup keeps it) but its shingle set is the
  * template's plus ONE unique trailing shingle, so the bulk of them
  * share the full minhash signature and land in the SAME bucket in
  * every band: one bucket whose size is corpus-scale.
  *
  * Uncapped, the in-bucket self-join emits C(B,2) candidate pairs —
  * quadratic in the cluster size; the default hot-bucket star-edge cap
  * emits B-1. This tool measures both paths per corpus size: candidate
  * rows, candidate wall, MAX SINGLE-TASK time (the straggler signal —
  * the capped kernel's per-bucket stats are a map-side-combinable
  * groupBy precisely so this stays flat when one bucket holds half the
  * corpus), full near-dedup-chain wall (pairs -> Jaccard verify -> CC
  * -> survivors), and shuffle volume — the growth curves BASELINE.md
  * cites for the "no scale-killer" claim. The raw chain is
  * skipped above `rawChainMax` docs (its verify join fans out by the
  * quadratic pair count; that cliff is the finding, not a harness
  * failure to tolerate).
  *
  * Usage: runMain graft.tools.LshSkew [sizes...]
  */
object LshSkew {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
                else Seq(2000, 6000, 20000, 200000)
    val rawChainMax = 6000
    // above this the raw kernel's candidate COUNT is the cliff
    // (C(n/2, 2) rows — 5e9 at n=200k); measuring it adds nothing
    val rawCandMax = 20000
    val spark = graft.SparkEntry.localSession()

    val census = Census(spark)

    // even ids: the 40-word template + ' u<id>' (one new trailing
    // shingle); odd ids: unique 40-word docs (the healthy half)
    def corpus(n: Int): DataFrame =
      spark.range(n).selectExpr(
        "id as doc_id",
        """CASE WHEN id % 2 = 0
             THEN concat(concat_ws(' ', transform(sequence(1, 40),
                    i -> concat('tmpl', cast(i as string)))),
                  ' u', cast(id as string))
             ELSE concat_ws(' ', transform(sequence(1, 40),
                    i -> concat('w', cast(id * 53 + i * 7 as string))))
           END as text""")

    def chain(docs: DataFrame, cap: Int): Long = {
      val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
      val bux = TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2).cache()
      val pairs = TextOps.lshCandidatePairs(bux, "doc_id", cap).cache()
      val verified = TextOps.jaccardPairs(docs, "doc_id", "text", pairs)
        .filter(col("jaccard") >= 0.5).select("a_id", "b_id")
      val n = TextOps.dropNearDuplicates(docs, "doc_id", verified).count()
      bux.unpersist(); pairs.unpersist()
      n
    }

    // max_task is the straggler signal: the longest single task in the
    // measured job — a skew-safe kernel keeps it flat as one bucket
    // swallows half the corpus; a per-key window does not
    def measure(label: String)(f: => Long): Unit = {
      val s = census.measure(label)(f)
      println(f"LSH_SKEW $label%-28s rows=${s.out}%9d wall=${s.wallS}%8.2f s " +
        f"max_task=${s.maxTaskS}%7.2f s " +
        f"shuffle_write=${s.shuffleWriteMB}%9.1f MB " +
        f"shuffle_read=${s.shuffleReadMB}%9.1f MB")
    }

    // warm pass: JIT + codegen for the whole chain
    chain(corpus(500).localCheckpoint(), TextOps.HotBucketCap)

    sizes.foreach { n =>
      val docs = corpus(n).localCheckpoint()
      docs.count()
      def bux() = {
        val sigs = TextOps.minhashSignature(docs, "doc_id", "text", k = 8)
        TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2)
      }
      measure(s"cand_capped n=$n") {
        TextOps.lshCandidatePairs(bux(), "doc_id").count()
      }
      if (n <= rawCandMax)
        measure(s"cand_raw n=$n") {
          TextOps.lshCandidatePairs(bux(), "doc_id", Int.MaxValue).count()
        }
      else
        println(s"LSH_SKEW cand_raw n=$n SKIPPED (C(n/2,2) candidate rows)")
      measure(s"chain_capped n=$n") { chain(docs, TextOps.HotBucketCap) }
      if (n <= rawChainMax)
        measure(s"chain_raw n=$n") { chain(docs, Int.MaxValue) }
      else
        println(s"LSH_SKEW chain_raw n=$n SKIPPED (verify join fans out " +
          "by the quadratic pair count; the candidate row count above is the cliff)")
    }
    spark.stop()
  }
}
