package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sim.Similarity
import graft.util.DistRank

/** Adversarial one-cell evidence for [[Similarity.prototypePrune]]'s
  * r15 rank de-skew: a corpus of near-constant embeddings (exactly the
  * redundancy D4 prunes) makes k-means collapse every vector into ONE
  * cell, so a `Window.partitionBy(cell)` rank funnels the whole corpus
  * through a single task. The fix ranks with
  * [[DistRank.perKeyRowNumber]] — a one-cell input has fewer keys than
  * partitions, so its default dispatch takes the range-partitioned
  * two-pass row numbers whose max single-task time stays flat as the
  * cell grows.
  *
  * Measures, per corpus size: the isolated rank stage under the
  * default dispatch, forced down the light path, and as a window (same
  * input frame, same output ranks — the window path is reconstructed
  * here purely as the measured straw man), and the full prototypePrune
  * chain, all at the default heavy-key threshold. The growth curves
  * are the BASELINE.md PruneSkew table.
  *
  * Usage: runMain graft.tools.PruneSkew [sizes...]
  */
object PruneSkew {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
                else Seq(50000, 200000, 800000)
    val spark = graft.SparkEntry.localSession()

    val census = Census(spark)

    // near-constant 8-dim embeddings: unit-ish direction plus a tiny
    // per-id perturbation so prototypicality scores still vary — every
    // vector lands in the same k-means cell
    def corpus(n: Int): DataFrame =
      spark.range(n).selectExpr("id as vec_id",
        """transform(sequence(0, 7), j ->
             1.0d + cast(j as double) * cast(id % 997 as double) * 1e-7d)
           as embedding""")

    // the isolated rank-stage input: (vec_id, cell, proto) with ONE cell
    def scored(n: Int): DataFrame =
      spark.range(n).selectExpr("id as vec_id", "0L as cell",
        "round(cast(id % 9973 as double) / 9973.0d, 4) as proto")

    // "out=", not "rows=": the rank measurements return sum(rank) (so
    // the rank column is genuinely consumed), prototypePrune a row count
    def measure(label: String)(f: => Long): Unit =
      println(f"PRUNE_SKEW $label%-30s " + census.measure(label)(f).skewFields)

    // warm pass
    DistRank.perKeyRowNumber(scored(2000), "cell",
      Seq(desc("proto"), col("vec_id")), "rank").count()

    sizes.foreach { n =>
      val s = scored(n).localCheckpoint()
      s.count()
      // sum(rank) so the rank is genuinely consumed — a bare count()
      // lets Catalyst prune the whole window away and measures nothing
      measure(s"rank_distrank n=$n") {
        DistRank.perKeyRowNumber(s, "cell",
            Seq(desc("proto"), col("vec_id")), "rank")
          .agg(sum("rank")).head.getLong(0)
      }
      // the same rank forced down the light path (no key counted
      // heavy): the one-task hash fold a one-cell input would get if
      // the count did not route a few-key input to the two-pass leg
      measure(s"rank_lightpath n=$n") {
        DistRank.perKeyRowNumber(s, "cell",
            Seq(desc("proto"), col("vec_id")), "rank",
            precomputedHeavy = Some(Nil))
          .agg(sum("rank")).head.getLong(0)
      }
      measure(s"rank_window n=$n") {
        val w = Window.partitionBy("cell")
          .orderBy(desc("proto"), col("vec_id"))
        s.withColumn("rank", row_number().over(w).cast("long"))
          .agg(sum("rank")).head.getLong(0)
      }
      val emb = corpus(n).localCheckpoint()
      emb.count()
      measure(s"prototypePrune n=$n") {
        Similarity.prototypePrune(emb, "vec_id", "embedding",
          initIds = Seq(0L, 1L, 2L, 3L), iterations = 2,
          dropFrac = 0.3).count()
      }
    }
    spark.stop()
  }
}
