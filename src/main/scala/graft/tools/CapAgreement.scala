package graft.tools

import org.apache.spark.sql.DataFrame

import graft.sim.Similarity

/** Survivor-set agreement of capped SemDeDup vs the exact (uncapped)
  * drop rule — the quality axis of the default maxCellSize guard.
  *
  * The cap changes WHICH member of a near-dup group survives (a split
  * cell compares members only within its sub-cell), so the default
  * (500, 3) is an approximation of the paper rule the same way nProbe
  * < k approximates exact IVF search. This harness puts a number on
  * it: at 1x/3x/10x replicated corpora (balanced and the adversarial
  * one-hot-cell skew from [[ScaleStep.skewed]]), it reports
  *   - `keep_agree`  |S_cap ∩ S_exact| / |S_exact| — how much of the
  *     exact survivor set the capped run also keeps,
  *   - `drop_jacc`   Jaccard of the two drop sets, and
  *   - the survivor counts themselves (the dedup RATE should match
  *     even where the member choice differs).
  *
  * Same corpora and parameters as the `ScaleStep dedup` semdedup rows
  * (4 seeds, 2 k-means iterations, threshold 0.3), so the numbers line
  * up with the measured wall/shuffle table in BASELINE.md.
  *
  * Usage: runMain graft.tools.CapAgreement [sfDir] [copies...]
  */
object CapAgreement {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 3, 10)
    val spark = graft.SparkEntry.localSession()

    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()

    def agree(label: String, corpus: DataFrame, seeds: Seq[Long],
        cap: Int, rounds: Int): Unit = {
      val n = corpus.count()
      val exact = Similarity.semDedup(corpus, "vec_id", "embedding",
        seeds, 2, 0.3, maxCellSize = 0)
        .select("vec_id").localCheckpoint()
      val capped = Similarity.semDedup(corpus, "vec_id", "embedding",
        seeds, 2, 0.3, maxCellSize = cap, refineRounds = rounds)
        .select("vec_id").localCheckpoint()
      val nExact = exact.count()
      val nCapped = capped.count()
      val both = exact.join(capped, "vec_id").count()
      // drop sets: corpus minus survivors. |Dx ∩ Dc| = n - |Sx ∪ Sc|,
      // |Dx ∪ Dc| = n - |Sx ∩ Sc|
      val dropBoth = n - (nExact + nCapped - both)
      val dropUnion = n - both
      val jacc = if (dropUnion == 0) 1.0 else dropBoth.toDouble / dropUnion
      println(f"CAP_AGREE corpus=$label%-9s cap=$cap%4d rounds=$rounds " +
        f"rows=$n%7d exact_keep=$nExact%7d capped_keep=$nCapped%7d " +
        f"keep_agree=${both.toDouble / nExact}%6.4f drop_jacc=$jacc%6.4f")
    }

    copies.foreach { k =>
      val bal = ScaleStep.replicateEmb(emb0, k).localCheckpoint()
      agree("balanced", bal, Seq(0L, 1L, 2L, 3L), 500, 3)
      agree("balanced", bal, Seq(0L, 1L, 2L, 3L), 50, 2)
      val skew = ScaleStep.skewed(ScaleStep.replicateEmb(emb0, k))
        .localCheckpoint()
      agree("skewed", skew, Seq(0L, 1L, 3L, 5L), 500, 3)
      agree("skewed", skew, Seq(0L, 1L, 3L, 5L), 50, 2)
    }
    spark.stop()
  }
}
