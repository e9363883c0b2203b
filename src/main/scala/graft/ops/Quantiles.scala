package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT distributed per-group percentiles — the gap between Spark's
  * built-ins at 100 TB: `percentile_approx` is approximate, and the
  * exact `percentile` aggregate buffers each group in one task's
  * memory (the per-key window funnel in aggregate clothing). This
  * computes exact discrete percentiles with a bounded-memory plan at
  * any group size: [[graft.util.DistRank.perKeyRowNumber]]'s
  * range-partitioned two-pass rank (a corpus-sized group spreads over
  * all partitions), a broadcast per-key count join, and a map-side
  * combinable pivot of the rank-selected rows.
  *
  * Index semantics are pinned in INTEGER arithmetic so any engine can
  * mirror them bit-exactly: `idx(p) = ceil(p * n / 100) = (p*n + 99)
  * div 100` — the inverse-CDF discrete quantile (p=50, n=10 -> the
  * 5th smallest; p=99, n=10 -> the 10th; always >= 1 since p >= 1).
  * A float formulation (`ceil(0.9 * n)`) is NOT reproducible across
  * engines: 0.9*10 rounds to 9.000000000000002 in IEEE doubles and
  * ceils to 10 on one side only.
  *
  * NULL values are excluded (the SQL aggregate convention); the value
  * at a selected rank is deterministic even among duplicate values,
  * because ranking only permutes equal values. Group cardinality is
  * UNBOUNDED: the rank leg rides [[graft.util.DistRank]]'s HYBRID
  * dispatch — groups above the heavy-row threshold take the
  * range-partitioned two-pass scan (a corpus-sized group spreads over
  * all partitions), the tail of normal groups hash-folds in a single
  * pass with no driver table (each such group is below the threshold
  * by definition, so its one-task sort is bounded) — and the count
  * join is left to AQE, which broadcasts a small count side and
  * shuffle-joins a large one (a per-source percentile over millions
  * of sources must not broadcast a millions-row count table).
  */
object Quantiles {

  /** Per-`keyCol` exact discrete percentiles of `valueCol`. Returns
    * one row per key: (keyCol, n, p_<p1>, p_<p2>, ...) with the value
    * column's own type. `percents` are integer percents in [1, 100].
    * `tieBreak` column names totally order duplicate values (hygiene:
    * makes every intermediate rank deterministic, not just the
    * selected values, which are tie-insensitive either way). */
  def exactPercentiles(df: DataFrame, keyCol: String, valueCol: String,
      percents: Seq[Int], tieBreak: Seq[String] = Nil): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be integers in [1, 100], got $percents")
    require(percents.distinct.size == percents.size,
      s"duplicate percents: $percents")
    val reserved = Seq("__v", "__rk", "__n")
    val clash = (keyCol +: tieBreak).filter(reserved.contains)
    require(clash.isEmpty, s"columns ${clash.mkString(", ")} collide " +
      "with exactPercentiles' reserved internal names (__v, __rk, __n)")
    val sel = df
      .select((Seq(keyCol, valueCol) ++ tieBreak).map(col): _*)
      .filter(col(valueCol).isNotNull)
      .withColumnRenamed(valueCol, "__v")
    val ranked = graft.util.DistRank.perKeyRowNumber(
      sel, keyCol, (Seq("__v") ++ tieBreak).map(col), "__rk")
    // per-key counts from the RANKED frame (max rank == count): reuses
    // the scan's completed work instead of re-reading the input
    // relation a second time. NOT hint-broadcast: with few groups AQE
    // broadcasts this tiny side at runtime anyway; with millions of
    // groups the broadcast would be the scale bug, and AQE correctly
    // leaves it a shuffle join.
    val counts = ranked.groupBy(keyCol).agg(max(col("__rk")).as("__n"))
    val withN = ranked.join(counts, Seq(keyCol))
    val pivots = percents.map { p =>
      max(when(col("__rk") === expr(s"(${p}L * __n + 99L) div 100L"),
        col("__v"))).as(s"p_$p")
    }
    withN.groupBy(keyCol)
      .agg(max(col("__n")).as("n"), pivots: _*)
  }

  /** Per-key exact WEIGHTED percentiles — the importance-weighted
    * corpus statistic (token-count-weighted doc-length quantiles,
    * duplicity-weighted score cuts) Spark has no built-in for at any
    * accuracy. Weights must be positive LongType integers (counts /
    * duplicities / token totals): integer weights keep the crossing
    * arithmetic exact and engine-reproducible, where float cumulative
    * weights drift by summation order. Rows with NULL value, NULL
    * weight, or weight <= 0 are dropped.
    *
    * Semantics: the weighted inverse CDF — for percent p, the value of
    * the first row (in (value, tieBreak) order) whose inclusive
    * cumulative weight `cw` reaches `ceil(p * W / 100)`, selected by
    * the exact integer predicate `cw*100 >= p*W AND (cw - w)*100 <
    * p*W` (with all weights 1 this degenerates to [[exactPercentiles]]
    * — rank == (p*n+99) div 100). Output: (keyCol, total_w, p_<p>...).
    *
    * Scale: the cumulative weight is
    * [[graft.util.DistRank.perKeyRunningSum]] (hybrid de-skewed — a
    * corpus-sized group spreads), totals reuse the scanned frame's max
    * (the cumsum is monotone: weights are positive), the crossing pick
    * is one map-side-combinable conditional-max aggregate, and the
    * count join is AQE's choice — the [[exactPercentiles]] posture
    * throughout. */
  def weightedPercentiles(df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String, percents: Seq[Int],
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be integers in [1, 100], got $percents")
    require(percents.distinct.size == percents.size,
      s"duplicate percents: $percents")
    require(df.schema(weightCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"weightedPercentiles needs a LongType weight column; " +
        s"`$weightCol` is ${df.schema(weightCol).dataType.simpleString}")
    val reserved = Seq("__cw", "__tw", "__t0")
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty, s"input columns ${clash.mkString(", ")} " +
      "collide with weightedPercentiles' reserved internal names")
    val sel = df
      .select((Seq(keyCol, valueCol, weightCol) ++ tieBreak).map(col): _*)
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
    val ranked = graft.util.DistRank.perKeyRunningSum(
      sel, keyCol, (valueCol +: tieBreak).map(col), weightCol, "__cw")
    // the crossing predicate multiplies cumulative weights by 100 in
    // Long — guard the bound (ANSI off would wrap silently); the guard
    // feeds the carried value so the optimizer cannot prune it
    val totals = ranked.groupBy(keyCol).agg(max(col("__cw")).as("__t0"))
      .withColumn("__tw",
        when(col("__t0") <= lit(Long.MaxValue / 100L), col("__t0"))
          .otherwise(raise_error(concat(
            lit("weightedPercentiles: total weight overflows the "),
            lit("exact-integer predicate for key "),
            col(keyCol).cast("string")))
            .cast("long")))
      .drop("__t0")
    val pivots = percents.map { p =>
      max(when(col("__cw") * 100L >= col("__tw") * p &&
          (col("__cw") - col(weightCol)) * 100L < col("__tw") * p,
        col(valueCol))).as(s"p_$p")
    }
    ranked.join(totals, Seq(keyCol))
      .groupBy(keyCol)
      .agg(max(col("__tw")).as("total_w"), pivots: _*)
  }

  /** Per-key exact NTILE bucketing (equi-depth binning): every row of
    * `df` gets its 1-based equal-count bucket of `valueCol` within its
    * `keyCol` group — bit-identical to SQL's
    * `ntile(k) OVER (PARTITION BY key ORDER BY value, tieBreak)`
    * (bucket sizes differ by at most one, larger buckets first), the
    * feature-discretization step ML pipelines run before histogram
    * features or calibration bins.
    *
    * Same 100 TB posture as [[exactPercentiles]], from which it
    * borrows the whole plan: the rank leg is the HYBRID de-skewed
    * scan (a corpus-sized group spreads over all partitions; normal
    * groups hash-fold with unbounded cardinality), counts reuse the
    * ranked frame's max-rank, the join is left to AQE, and the bucket
    * is pure INTEGER arithmetic on (rank, n) — engine-reproducible,
    * no float boundary drift. Spark's own `ntile` window is the
    * straw man: one task per key.
    *
    * NULL values are excluded (rows with NULL `valueCol` are absent
    * from the output, the window-function convention for the rows an
    * ORDER BY can't place). Output: the input columns + `bucketCol`
    * (LongType in [1, k]). */
  def ntileBuckets(df: DataFrame, keyCol: String, valueCol: String,
      k: Int, tieBreak: Seq[String] = Nil,
      bucketCol: String = "bucket"): DataFrame = {
    require(k >= 1, s"ntileBuckets: k must be >= 1, got $k")
    val reserved = Seq("__rk", "__n", bucketCol)
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty, s"ntileBuckets: input columns " +
      s"${clash.mkString(", ")} collide with the reserved/output names")
    val sel = df.filter(col(valueCol).isNotNull)
    val ranked = graft.util.DistRank.perKeyRowNumber(
      sel, keyCol, (valueCol +: tieBreak).map(col), "__rk")
    val counts = ranked.groupBy(keyCol).agg(max(col("__rk")).as("__n"))
    // ntile(rank r of n into k): the first (n % k) buckets hold
    // (n div k + 1) rows, the rest (n div k). All-integer; the ELSE
    // branch's divisor (n div k) is zero only when n < k, where the
    // THEN branch always applies (rem = n, big = 1, r <= n).
    ranked.join(counts, Seq(keyCol))
      .withColumn(bucketCol, expr(
        s"""CASE WHEN __rk <= (__n % ${k}L) * ((__n div ${k}L) + 1L)
              THEN (__rk - 1L) div ((__n div ${k}L) + 1L) + 1L
              ELSE (__n % ${k}L)
                + (__rk - (__n % ${k}L) * ((__n div ${k}L) + 1L) - 1L)
                    div (__n div ${k}L) + 1L
            END"""))
      .drop("__rk", "__n")
  }
}
