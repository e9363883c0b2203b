package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.DistRank

/** Sequence analytics over per-key ordered event streams — the
  * transition-structure questions a product/behavior corpus gets asked
  * (what follows what, and how often) — built on the de-skewed DistRank
  * lag carry so a bot key holding a corpus-scale share of events never
  * funnels through one task.
  *
  * No petropandas counterpart (the reference has no event-sequence
  * surface); public construction: first-order Markov transition
  * estimation, i.e. `lag()` + two hash aggregates.
  */
object Sequences {

  /** First-order transition matrix of `stateCol` within `keyCol`
    * sequences ordered by `orderCols` (which must totally order rows
    * within a key — pass a unique tiebreaker): one row per observed
    * `(from_state, to_state)` adjacent pair, with its count `n` and
    * row probability `p = n / Σ n over from_state` (the maximum-
    * likelihood Markov estimate). A key's FIRST event has no
    * predecessor and contributes no pair; a row whose PREVIOUS state is
    * NULL is indistinguishable from a first-of-key row (the window
    * form's `lag` null) and is likewise dropped, the standard lag-SQL
    * convention — transitions TO a null state are counted under
    * `to_state` NULL as usual.
    *
    * Scale shape: one de-skewed lag carry ([[DistRank.perKeyLag]] —
    * heavy keys two-pass range scan, light tail hash fold), then ONE
    * map-side-combinable hash aggregate; the probability normalizer is
    * a window over the AGGREGATE (at most |states| rows share a
    * from_state partition), never over the corpus. No self-join, no
    * second scan of the input. */
  def transitionCounts(df: DataFrame, keyCol: String,
      orderCols: Seq[Column], stateCol: String): DataFrame = {
    require(df.columns.contains(stateCol),
      s"state column $stateCol not in ${df.columns.toSeq}")
    val lagged = DistRank.perKeyLag(df, keyCol, orderCols, stateCol,
      "__from")
    val pairs = lagged
      .filter(col("__from").isNotNull) // first-of-key / null-prev rows out
      .groupBy(col("__from").as("from_state"),
        col(stateCol).as("to_state"))
      .agg(count(lit(1)).as("n"))
    val byFrom = org.apache.spark.sql.expressions.Window
      .partitionBy("from_state")
    pairs.select(col("from_state"), col("to_state"), col("n"),
      (col("n").cast("double") / sum("n").over(byFrom).cast("double"))
        .as("p"))
  }
}
