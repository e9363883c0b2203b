package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed funnel analysis: per key, the earliest strictly-ordered
  * completion of a step sequence (click → purchase → repeat-purchase…)
  * — the product-analytics operator Spark lacks natively, and a
  * curation primitive (e.g. "crawl → extract → survive-dedup" reach
  * per source).
  *
  * Semantics (the greedy earliest-advance funnel, layered-min form):
  * `t_1 = min{t : step_1(e)}`, and
  * `t_i = min{t > t_(i-1) : step_i(e)}` — each advance must be
  * STRICTLY later than the previous one, so one event can never
  * satisfy two steps and the result is independent of the order of
  * simultaneous events. Greedy earliest-advance is optimal for
  * unwindowed funnels: delaying any advance can only shrink the set of
  * events available for later steps.
  *
  * Scale design: the naive formulation is k self-joins (step i joined
  * to step i-1 per key) — k shuffles and a fanout hazard on hot keys.
  * This runs through [[graft.util.DistRank]]'s HYBRID scan dispatch:
  * normal keys fold hash-partitioned in a single pass (unbounded key
  * cardinality, no driver table); keys above the heavy-row threshold
  * take the two-pass range scan, where pass 1 folds each partition's
  * per-key run into a SIMULATION VECTOR (the funnel state
  * transformation for every possible entry stage — k+1 small states,
  * k ≤ 8), the driver composes the vectors per key in partition order,
  * and pass 2 replays each run from its carried-in state. A hot key
  * (one bot user with a corpus-scale share of events) spreads over
  * many partitions — the same flat-max-task posture as
  * `perKeySessionIds`.
  *
  * Why entry-stage-only simulation is exact: the advance condition
  * `t > t_prev` also references the previous advance TIME, but the
  * range partitioner maps rows with equal (key, time) to the same
  * partition, so a carried `t_prev` from an earlier partition is
  * strictly below every time in the current one — only the
  * within-partition strict check can ever bind.
  */
object Funnel {

  /** Append-free funnel reach: one row per distinct `keyCol` value
    * with `stages_reached` (0..k) and `step_i_us` epoch-micros
    * timestamps (NULL from the first unreached step). `timeUsCol` must
    * be LongType epoch micros; NULL-time events are ignored. `steps`
    * are boolean predicate Columns over the event frame's columns, in
    * funnel order (at most 8 — the simulation vector is k+1 states per
    * run). */
  def matchSteps(events: DataFrame, keyCol: String, timeUsCol: String,
      steps: Seq[Column]): DataFrame = {
    val k = steps.size
    require(k >= 1 && k <= 8, s"1..8 funnel steps supported, got $k")
    require(events.schema(timeUsCol).dataType == LongType,
      s"matchSteps needs an epoch-micros LongType time column; " +
        s"`$timeUsCol` is ${events.schema(timeUsCol).dataType.simpleString}")
    val flagged = events
      .filter(col(timeUsCol).isNotNull)
      .select(col(keyCol) +: col(timeUsCol) +:
        steps.zipWithIndex.map { case (p, i) =>
          coalesce(p.cast("boolean"), lit(false)).as(s"__p$i")
        }: _*)
    // pre-shuffle column order, observed identically by both passes
    val tIdx = 1
    val pIdx0 = 2
    val stField = StructField("__funnel", StructType(
      StructField("stage", IntegerType, nullable = false) +:
        (1 to k).map(i => StructField(s"step_${i}_us", LongType,
          nullable = true))), nullable = false)

    // One funnel state: stages completed + their advance times (valid
    // for indices < stage). UNSET marks an unknown entry time in run
    // simulations — strictly below every real time by the partitioning
    // argument above.
    val UNSET = Long.MinValue
    def advance(stage: Int, times: Array[Long], r: Row): Int = {
      if (stage >= k || !r.getBoolean(pIdx0 + stage)) stage
      else {
        val t = r.getLong(tIdx)
        if (stage == 0 || times(stage - 1) == UNSET || t > times(stage - 1)) {
          times(stage) = t
          stage + 1
        } else stage
      }
    }

    // run summary: for every entry stage s, the exit stage and the
    // advance times set within this run (indices s until exit)
    final case class Sim(exit: Array[Int], times: Array[Array[Long]])
    val scanned = graft.util.DistRank.scanHybrid[(Int, Array[Long]), Sim](
      flagged, keyCol, Seq(col(timeUsCol)), stField)(
      summary = { (m, r) =>
        var s = 0
        while (s <= k) {
          m.exit(s) = advance(m.exit(s), m.times(s), r)
          s += 1
        }
        m
      },
      summary0 = Sim(Array.tabulate(k + 1)(identity),
        Array.fill(k + 1)(Array.fill(k)(UNSET))),
      init = (0, Array.fill(k)(UNSET)),
      carry = { case ((stage, times), m) =>
        val exit = m.exit(stage)
        val merged = times.clone()
        var i = stage
        while (i < exit) { merged(i) = m.times(stage)(i); i += 1 }
        (exit, merged)
      },
      step = { case ((stage, times), r) =>
        val t2 = times.clone()
        val s2 = advance(stage, t2, r)
        (s2, t2)
      },
      emit = { case (stage, times) =>
        Row.fromSeq(stage +: (0 until k).map(i =>
          if (i < stage) java.lang.Long.valueOf(times(i)) else null))
      })
    // final state per key = the max emitted struct: stage is monotone
    // along the scan and times are frozen once set, so lexicographic
    // max is the last row's state — a map-side-combinable aggregate,
    // no second window
    val reach = scanned.groupBy(keyCol)
      .agg(max(col("__funnel")).as("__f"))
      .select(col(keyCol) +: col("__f.stage").as("stages_reached") +:
        (1 to k).map(i => col(s"__f.step_${i}_us")): _*)
    withKeyUniverse(events, keyCol, timeUsCol, reach, k)
  }

  /** WINDOWED funnel reach — the conversion-deadline form real product
    * funnels need ("purchase within W of the click"): one row per
    * distinct `keyCol` value with `stages_reached` = the deepest level
    * ANY valid chain reaches, and `step_i_us` = the EARLIEST time any
    * valid chain reaches level i. A chain is a strictly time-increasing
    * event sequence matching `steps` 1..j in order whose total span is
    * within the window: `t_j - t_1 <= windowUs` (inclusive), anchored
    * at its own step-1 event.
    *
    * Unlike the unwindowed greedy ([[matchSteps]]), an expired funnel
    * must RE-ARM: a click in January that never converts cannot block
    * the March click that does, so a single greedy chain undercounts.
    * The exact scan keeps, per level, the maximum-anchor chain — a
    * fresher anchor is strictly more permissive (`t <= anchor + W`)
    * and, once every existing chain's last event is in the past,
    * dominates outright; a second per-level slot holds chains formed
    * at the CURRENT instant so a simultaneous event can never chain to
    * itself (the strict-order guarantee, independent of tie order).
    * O(k) state per key; every reach is exact (see the
    * max-anchor-dominance argument in the implementation notes).
    *
    * Scale design: keys below the heavy-row threshold hash-fold in a
    * single pass (unbounded key cardinality, no driver table). A key
    * above it CANNOT ride the two-pass range scan — the carried state
    * is continuous-valued (anchors), not enumerable like the
    * unwindowed simulation vector — but the window itself bounds
    * relevance in TIME: every chain alive at time t lies wholly inside
    * `[t - windowUs, t]`, so heavy keys are split into fixed
    * W-aligned time buckets with each event REPLICATED into the next
    * bucket as warm-up lookback. Each (key, bucket) task replays its
    * lookback + own events from empty state — provably identical, for
    * every own-event advance, to the full scan (any chain usable at an
    * own event fits inside the lookback+own range; max-anchor
    * dominance does the rest) — and contributes only own-event
    * advances. Max task is per-key event DENSITY x 2W, not per-key
    * total: the honest contract for an operator whose semantics
    * require a window of events together (a key packing its entire
    * corpus-scale history inside ONE window is irreducible for any
    * exact windowed funnel).
    *
    * `timeUsCol` must be LongType epoch micros; NULL-time events are
    * ignored (all-null-time keys report stage 0 — the SQL universe
    * convention); `windowUs >= 1`. Note `step_i_us` differs from
    * [[matchSteps]]'s single-chain times: levels may be first reached
    * by DIFFERENT chains. */
  def matchStepsWindowed(events: DataFrame, keyCol: String,
      timeUsCol: String, steps: Seq[Column], windowUs: Long): DataFrame = {
    val k = steps.size
    require(k >= 1 && k <= 8, s"1..8 funnel steps supported, got $k")
    require(windowUs >= 1, s"windowUs must be >= 1, got $windowUs")
    require(events.schema(timeUsCol).dataType == LongType,
      s"matchStepsWindowed needs an epoch-micros LongType time column; " +
        s"`$timeUsCol` is ${events.schema(timeUsCol).dataType.simpleString}")
    graft.util.DistRank.validateKeyType(keyCol,
      events.schema(keyCol).dataType)
    val reserved = Seq("__wb", "__wown")
    val clash = events.columns.filter(reserved.contains)
    require(clash.isEmpty, s"columns ${clash.mkString(", ")} collide " +
      "with matchStepsWindowed's reserved internal names (__wb, __wown)")
    val spark = events.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val flagged = events
      .filter(col(timeUsCol).isNotNull)
      .select(col(keyCol) +: col(timeUsCol) +:
        steps.zipWithIndex.map { case (p, i) =>
          coalesce(p.cast("boolean"), lit(false)).as(s"__p$i")
        }: _*)
    val partialSchema = StructType(
      flagged.schema(keyCol).copy(name = keyCol) +:
        StructField("__best", IntegerType, nullable = false) +:
        (1 to k).map(i =>
          StructField(s"step_${i}_us", LongType, nullable = true)))
    val heavyVals = graft.util.DistRank.heavyKeyValues(flagged, keyCol)

    // light rows: (key, t, __p0..__p{k-1}) — group = (key)
    def lightPartials(light: DataFrame): DataFrame = {
      val clustered = light.repartition(nPart, col(keyCol))
        .sortWithinPartitions(col(keyCol), col(timeUsCol))
      val rdd = clustered.rdd.mapPartitions(it =>
        foldWindowedRuns(it, groupArity = 1, tIdx = 1, pIdx0 = 2,
          ownIdx = -1, k, windowUs))
      spark.createDataFrame(rdd, partialSchema)
    }
    // heavy rows: (key, __wb, t, __p0.., __wown) — group = (key, __wb)
    def heavyPartials(heavy: DataFrame): DataFrame = {
      // W-aligned bucket start (floor semantics via pmod); each event
      // rides its own bucket plus the NEXT one as warm-up lookback
      val withB = heavy.withColumn("__wb",
        col(timeUsCol) - pmod(col(timeUsCol), lit(windowUs)))
      val own = withB.withColumn("__wown", lit(true))
      val look = withB.withColumn("__wb", col("__wb") + lit(windowUs))
        .withColumn("__wown", lit(false))
      val ordered = Seq(col(keyCol), col("__wb"), col(timeUsCol)) ++
        (0 until k).map(i => col(s"__p$i")) :+ col("__wown")
      val clustered = own.unionByName(look).select(ordered: _*)
        .repartition(nPart, col(keyCol), col("__wb"))
        .sortWithinPartitions(col(keyCol), col("__wb"), col(timeUsCol))
      val rdd = clustered.rdd.mapPartitions(it =>
        foldWindowedRuns(it, groupArity = 2, tIdx = 2, pIdx0 = 3,
          ownIdx = 3 + k, k, windowUs))
      spark.createDataFrame(rdd, partialSchema)
    }

    val partials =
      if (heavyVals.isEmpty) lightPartials(flagged)
      else {
        val (light, heavy) =
          graft.util.DistRank.splitHeavyLight(flagged, keyCol, heavyVals)
        lightPartials(light).unionByName(heavyPartials(heavy))
      }
    // heavy keys emit one partial per bucket: reach is the max, and
    // each step's earliest time the min over non-null partials (a
    // level's earliest reach lands in exactly the bucket owning that
    // advance event, so min == the global first reach)
    val agg = partials.groupBy(keyCol).agg(
      max(col("__best")).as("stages_reached"),
      (1 to k).map(i => min(col(s"step_${i}_us")).as(s"step_${i}_us")): _*)
    withKeyUniverse(events, keyCol, timeUsCol, agg, k)
  }

  /** The windowed-funnel scan over one sorted partition: detect
    * contiguous (group-prefix) runs — group arity 1 = (key) on the
    * hash path, 2 = (key, bucket) on the heavy path — and fold each
    * run with the two-slot max-anchor DP, emitting one partial row
    * (key, best, step_1_us..step_k_us) per run. Only rows whose
    * `ownIdx` flag is true (or all rows when ownIdx < 0) contribute
    * reaches; lookback rows only build state.
    *
    * Exactness of the max-anchor DP (per run): by induction, after
    * processing all events at times <= t the slot pair at level i
    * holds exactly max{anchor of any valid level-i chain with last
    * event < t} (old slot) and == t (current slot). An event at t can
    * extend SOME level-(i-1) chain iff it can extend the old slot's
    * max-anchor chain: the window test `t - anchor <= W` is most
    * permissive at the maximum anchor, and the strict-order test holds
    * for every old-slot chain by construction. Rolling the current
    * slot into the old slot when time advances keeps only the max
    * anchor — sound because from then on every future event is
    * strictly later than both chains' last events, so the larger
    * anchor dominates outright. */
  private def foldWindowedRuns(it: Iterator[Row], groupArity: Int,
      tIdx: Int, pIdx0: Int, ownIdx: Int, k: Int,
      windowUs: Long): Iterator[Row] = {
    val UNSET = Long.MinValue
    val slotOld = Array.fill(k)(UNSET)
    val slotCur = Array.fill(k)(UNSET)
    val er = Array.fill(k)(UNSET)
    var best = 0
    var curTime = UNSET
    var anyRow = false
    def reset(): Unit = {
      java.util.Arrays.fill(slotOld, UNSET)
      java.util.Arrays.fill(slotCur, UNSET)
      java.util.Arrays.fill(er, UNSET)
      best = 0; curTime = UNSET; anyRow = false
    }
    def step(r: Row): Unit = {
      val t = r.getLong(tIdx)
      if (anyRow && t != curTime) {
        var i = 0
        while (i < k) {
          if (slotCur(i) > slotOld(i)) slotOld(i) = slotCur(i)
          slotCur(i) = UNSET
          i += 1
        }
      }
      curTime = t; anyRow = true
      val own = ownIdx < 0 || r.getBoolean(ownIdx)
      var i = 0
      while (i < k) {
        if (r.getBoolean(pIdx0 + i)) {
          val anchor =
            if (i == 0) t
            else {
              val a = slotOld(i - 1)
              if (a != UNSET && t - a <= windowUs) a else UNSET
            }
          if (anchor != UNSET) {
            if (anchor > slotCur(i)) slotCur(i) = anchor
            if (own) {
              if (er(i) == UNSET) er(i) = t
              if (i + 1 > best) best = i + 1
            }
          }
        }
        i += 1
      }
    }
    def partial(keyVal: Any): Row =
      Row.fromSeq(keyVal +: best +: (0 until k).map(i =>
        if (er(i) == UNSET) null else java.lang.Long.valueOf(er(i))))

    new Iterator[Row] {
      private var curGroup: Seq[Any] = null
      private var open = false
      private var out: Row = null
      private def advance(): Unit = {
        while (out == null && it.hasNext) {
          val r = it.next()
          val g = (0 until groupArity).map(r.get)
          if (!open) { curGroup = g; open = true; reset() }
          else if (g != curGroup) {
            out = partial(curGroup.head)
            curGroup = g; reset()
          }
          step(r)
        }
        if (out == null && open) { out = partial(curGroup.head); open = false }
      }
      def hasNext: Boolean = { advance(); out != null }
      def next(): Row = {
        advance()
        if (out == null) throw new NoSuchElementException("empty run fold")
        val o = out; out = null; o
      }
    }
  }

  /** Re-attach keys whose events ALL have null time (the pre-scan
    * isNotNull filter drops them) as stage-0 rows, matching the SQL
    * formulation's distinct-key universe; skipped when the schema
    * proves the time column non-nullable (no row can drop, so the
    * scan already saw every key). The join is the PLAIN equi-join
    * (not null-safe), so a NULL key reports stage 0 — the same
    * convention a SQL `LEFT JOIN ... USING(key)` mirror yields. */
  private[ops] def withKeyUniverse(events: DataFrame, keyCol: String,
      timeUsCol: String, reach: DataFrame, k: Int): DataFrame = {
    if (!events.schema(timeUsCol).nullable) return reach
    val universe = events.select(col(keyCol)).distinct()
    universe.join(reach, Seq(keyCol), "left")
      .select(col(keyCol) +:
        coalesce(col("stages_reached"), lit(0)).as("stages_reached") +:
        (1 to k).map(i => col(s"step_${i}_us")): _*)
  }
}
