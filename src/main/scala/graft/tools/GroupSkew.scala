package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextOps
import graft.util.DistRank

/** Adversarial mega-group evidence for the r15 window de-skews beyond
  * prototypePrune ([[PruneSkew]]): three operators whose group key can
  * hold most of the corpus in the REAL world —
  *
  *  - `dropNearDuplicatesBy`: one near-dup cluster holding 50 % of all
  *    documents (the templated-page norm). Was a cluster-partitioned
  *    row_number; now a map-side-combinable min-struct aggregate.
  *  - `weightedSample`: ONE source holding the entire corpus. Was an
  *    unfiltered per-source rank; now an exact bounded-heap top-k
  *    aggregate ([[graft.util.TopKRows]]) that combines map-side.
  *  - `packSequences`: one mega-source through the per-source
  *    cumulative token sum. Was a window sum; now
  *    [[DistRank.perKeyRunningSum]].
  *
  * For each: the de-skewed operator vs an inline window straw man at
  * growing sizes, wall + max single-task time. The growth curves are
  * the BASELINE.md GroupSkew table.
  *
  * Usage: runMain graft.tools.GroupSkew [sizes...]
  */
object GroupSkew {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
                else Seq(200000, 800000, 3200000)
    val spark = graft.SparkEntry.localSession()
    import spark.implicits._

    val census = Census(spark)

    def measure(label: String)(f: => Long): Unit =
      println(f"GROUP_SKEW $label%-30s " + census.measure(label)(f).skewFields)

    // one source / half-corpus cluster corpora
    def docs(n: Int): DataFrame = spark.range(n).selectExpr(
      "id as doc_id", "'one_source' as source",
      """concat_ws(' ', transform(sequence(1, 20),
           i -> concat('w', cast((id * 31 + i) % 997 as string))))
         as text""").localCheckpoint()

    sizes.foreach { n =>
      val d = docs(n)
      d.count()

      // ---- dropNearDuplicatesBy: star pairs put HALF the corpus in
      // one cluster (every even id paired to 0)
      val pairs = spark.range(1, n / 2).selectExpr(
        "0L as a_id", "id * 2 as b_id").localCheckpoint()
      pairs.count()
      measure(s"dedupby_agg n=$n") {
        TextOps.dropNearDuplicatesBy(d, "doc_id", pairs,
          length(col("text")).cast("long")).count()
      }
      measure(s"dedupby_window n=$n") {
        val w = Window.partitionBy("cluster")
          .orderBy(col("__score").desc_nulls_last, col("id").asc)
        val clustered = d.select(col("doc_id").as("id"),
            length(col("text")).cast("long").as("__score"))
          .join(TextOps.nearDupClusters(pairs), "id")
        val losers = clustered.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") > 1).select(col("id").as("doc_id"))
        d.join(losers, Seq("doc_id"), "left_anti").count()
      }

      // ---- weightedSample: the whole corpus is one source
      measure(s"wsample_topk n=$n") {
        TextOps.weightedSample(d, "doc_id", "source",
          length(col("text")).cast("double"), k = 100).count()
      }
      measure(s"wsample_window n=$n") {
        val u = TextOps.md5Hash60(concat(lit("wrs:"),
          col("doc_id").cast("string"))).cast("double") / math.pow(16.0, 15)
        val w = Window.partitionBy("source")
          .orderBy(col("key_micro").desc, col("doc_id").asc)
        d.withColumn("weight", length(col("text")).cast("double"))
          .withColumn("key_micro",
            round(pow(u, lit(1.0) / col("weight")) * 1e6, 0).cast("long"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 100).count()
      }

      // ---- packSequences: one source's running token sum
      measure(s"pack_prefixsum n=$n") {
        TextOps.packSequences(d, "doc_id", "text", "source", 512)
          .agg(sum("bin")).head.getLong(0)
      }
      measure(s"pack_window n=$n") {
        val w = Window.partitionBy("source").orderBy("doc_id")
        d.select(col("source"), col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
          .withColumn("bin",
            floor((sum("n_tok").over(w) - col("n_tok")) / lit(512.0))
              .cast("long"))
          .agg(sum("bin")).head.getLong(0)
      }
    }
    spark.stop()
  }
}
