package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Skew-proof per-key `row_number` / running scans: the drop-in
  * replacement for `Window.partitionBy(key).orderBy(...)` when one key
  * can hold an unbounded share of the rows. A bare window funnels each
  * key through ONE task — the skew trap the r13/r14 rounds removed from
  * the LSH kernel and stratifiedSample; this removes it from
  * full-ordering ranks, running sums, running `last`s, and gap
  * sessionization, where a threshold prefilter cannot help because
  * every surviving row needs its exact scan value.
  *
  * Every op takes ONE dispatch ([[scanHybrid]]), steered by ONE conf,
  * `spark.graft.skew.heavyKeyRows` (default 2,000,000 rows), read here
  * and nowhere else:
  *  1. One map-side-combinable count finds the HEAVY keys (rows >= the
  *     threshold); an input with no more keys than shuffle partitions
  *     counts every key heavy, so a few mega-keys still spread over
  *     all tasks. `precomputedHeavy` lets a caller share one count
  *     across two scans of the same key population.
  *  2. Heavy keys take the two-pass range scan ([[scanTwoPass]]):
  *     `repartitionByRange` + `sortWithinPartitions` on
  *     (key, orderCols...) spreads a mega-key over MANY partitions;
  *     pass 1 folds each partition's contiguous per-key runs into a
  *     small run SUMMARY collected to the driver and folded, per key in
  *     partition order, into carried-in states; pass 2 scans each run
  *     from its carried-in state.
  *  3. The unbounded tail of light keys hash-folds in ONE pass, each
  *     key wholly inside one task, with no driver table — so key
  *     cardinality is unbounded.
  *
  * Scan values are EXACT and deterministic regardless of the split or
  * where the sampled range bounds fall, provided (key, orderCols...) is
  * a total order (include a unique tiebreaker where the op needs one) —
  * correctness never depends on the sampler or the threshold.
  *
  * == Contracts (hard-checked) ==
  *  - The KEY column must be an atomic equatable type (integral,
  *    string, boolean, date, timestamp) or a struct of those: the run
  *    detector and the driver offset table use universal equality, so
  *    Float/Double keys (NaN != NaN restarts every row), binary/array
  *    keys (reference equality), and decimals (scale-sensitive
  *    `BigDecimal.equals`) are REJECTED at plan build.
  *  - The heavy-key collect is capped (`spark.graft.skew.maxHeavyKeys`)
  *    and the two-pass run table per partition is capped
  *    ([[DistRank.MaxRunsPerPartition]]); either fails fast with a
  *    clear message before a driver collect can OOM.
  */
object DistRank {

  /** Executor-side cap on the two-pass leg's per-partition run-summary
    * count (default; override with
    * `spark.graft.distrank.maxRunsPerPartition`). With the default 32
    * shuffle partitions this bounds the driver table at ~8.4 M small
    * tuples — only heavy keys (or at most #partitions keys in all)
    * reach it, so it binds only when the threshold is set so low that
    * most keys count as heavy. */
  val MaxRunsPerPartition: Int = 1 << 18

  /** Append `rankCol` (1-based LongType per-key row number) to `df`,
    * ranked within `keyCol` by `orderCols` (which must totally order
    * rows within a key — include a unique tiebreaker). */
  def perKeyRowNumber(df: DataFrame, keyCol: String, orderCols: Seq[Column],
      rankCol: String,
      precomputedHeavy: Option[Seq[Any]] = None): DataFrame =
    scanHybrid[Long, Long](df, keyCol, orderCols,
      StructField(rankCol, LongType, nullable = false), precomputedHeavy)(
      summary = (acc, _) => acc + 1L,
      summary0 = 0L,
      init = 0L,
      carry = (s, m) => s + m,
      step = (s, _) => s + 1L,
      emit = identity[Long])

  /** Skew-proof per-key INCLUSIVE running sum of a long column — the
    * same two-pass construction for `sum(value) over (partition by key
    * order by ... rows unbounded preceding)` shapes (sequence packing's
    * per-source cumulative token totals, where one mega-source would
    * single-task a plain window). Appends `outCol` = the running total
    * INCLUDING the current row. NULL values contribute 0 (the window
    * sum's null tolerance); `orderCols` must totally order rows within
    * a key. `valueCol` must be LongType (checked — a silent
    * `getLong` on an int column would ClassCastException mid-job). */
  def perKeyRunningSum(df: DataFrame, keyCol: String,
      orderCols: Seq[Column], valueCol: String, outCol: String,
      precomputedHeavy: Option[Seq[Any]] = None): DataFrame = {
    val valIdx = df.columns.indexOf(valueCol)
    require(valIdx >= 0, s"value column $valueCol not in ${df.columns.toSeq}")
    require(df.schema(valueCol).dataType == LongType,
      s"perKeyRunningSum needs a LongType value column; `$valueCol` is " +
        s"${df.schema(valueCol).dataType.simpleString} — cast it first")
    def inc(r: Row): Long = if (r.isNullAt(valIdx)) 0L else r.getLong(valIdx)
    scanHybrid[Long, Long](df, keyCol, orderCols,
      StructField(outCol, LongType, nullable = false), precomputedHeavy)(
      summary = (acc, r) => acc + inc(r),
      summary0 = 0L,
      init = 0L,
      carry = (s, m) => s + m,
      step = (s, r) => s + inc(r),
      emit = identity[Long])
  }

  /** Skew-proof per-key INCLUSIVE running `last(value, ignoreNulls)` —
    * the two-pass twin of
    * `last(value, true) over (partition by key order by ... rows
    * unbounded preceding)`, the carry-forward shape behind
    * [[graft.ops.Temporal.asofJoin]] (most recent right-side row per
    * key). Appends `outCol` (same type as `valueCol`, nullable): the
    * latest non-null `valueCol` at or before each row in the
    * (key, orderCols...) order, NULL until the first non-null. Run
    * summaries carry one value per (partition, key) — a struct value is
    * fine (a bounded number of them reach the driver). */
  def perKeyRunningLast(df: DataFrame, keyCol: String,
      orderCols: Seq[Column], valueCol: String, outCol: String,
      precomputedHeavy: Option[Seq[Any]] = None): DataFrame = {
    val valIdx = df.columns.indexOf(valueCol)
    require(valIdx >= 0, s"value column $valueCol not in ${df.columns.toSeq}")
    def pick(s: Any, r: Row): Any = if (r.isNullAt(valIdx)) s else r.get(valIdx)
    val out = StructField(outCol, df.schema(valueCol).dataType,
      nullable = true)
    scanHybrid[Any, Any](df, keyCol, orderCols, out, precomputedHeavy)(
      summary = pick, summary0 = null, init = null,
      carry = (s, m) => if (m != null) m else s,
      step = pick, emit = identity[Any])
  }

  /** Carried scan state for [[perKeyLag]]: the value emitted for the
    * CURRENT row (the previous row's value) and the value the NEXT row
    * will emit (this row's). Nulls ride through un-skipped — `lag`
    * does not ignore nulls. */
  private final case class LagState(out: Any, cur: Any)

  /** Skew-proof per-key `lag(value, 1)` — the two-pass twin of
    * `lag(valueCol, 1) over (partition by key order by ...)`, INCLUDING
    * its null semantics (the first row of a key emits NULL; a null
    * value propagates to the next row as-is, not skipped). `orderCols`
    * must totally order rows within a key, the same contract as
    * [[perKeyRowNumber]]. The building block of sequence analytics
    * (event-type transition matrices, inter-arrival gaps) where a
    * plain window would funnel a bot user's corpus-share of rows
    * through one task. */
  def perKeyLag(df: DataFrame, keyCol: String,
      orderCols: Seq[Column], valueCol: String, outCol: String,
      precomputedHeavy: Option[Seq[Any]] = None): DataFrame = {
    val valIdx = df.columns.indexOf(valueCol)
    require(valIdx >= 0, s"value column $valueCol not in ${df.columns.toSeq}")
    def valOf(r: Row): Any = if (r.isNullAt(valIdx)) null else r.get(valIdx)
    val out = StructField(outCol, df.schema(valueCol).dataType,
      nullable = true)
    // run summary: (sawAnyRow, lastRowValue) — the only carry a later
    // partition needs is the run's final row value
    scanHybrid[LagState, (Boolean, Any)](df, keyCol, orderCols, out,
      precomputedHeavy)(
      summary = (m, r) => (true, valOf(r)),
      summary0 = (false, null),
      init = LagState(null, null),
      carry = (s, m) => if (m._1) LagState(null, m._2) else s,
      step = (s, r) => LagState(s.cur, valOf(r)),
      emit = (s: LagState) => s.out)
  }

  /** Carried state for [[perKeyRunningMaxExclusive]]: the max over
    * rows STRICTLY before the current one (`out`, what emit reads) and
    * the max including it (`cur`). */
  private final case class MaxState(out: java.lang.Long,
    cur: java.lang.Long)

  /** Skew-proof EXCLUSIVE per-key running max of a LongType column —
    * the two-pass twin of
    * `max(value) over (partition by key order by ... rows between
    * unbounded preceding and 1 preceding)`: the key's first row emits
    * NULL, NULL values are skipped (the window max convention), and a
    * mega-key spreads across partitions. The building block of
    * gaps-and-islands analytics (interval coalescing: a row starts a
    * new island iff its start exceeds every prior end), where the
    * island flag needs the max of ALL prior rows, not just the
    * previous one — `lag` can't express it, and the run max IS
    * composable across partitions (unlike the island count itself,
    * which is why [[graft.ops.Temporal.mergeIntervals]] layers this
    * scan + [[perKeyRunningSum]] instead of one fused scan). */
  def perKeyRunningMaxExclusive(df: DataFrame, keyCol: String,
      orderCols: Seq[Column], valueCol: String, outCol: String,
      precomputedHeavy: Option[Seq[Any]] = None): DataFrame = {
    val vIdx = df.columns.indexOf(valueCol)
    require(vIdx >= 0, s"value column $valueCol not in ${df.columns.toSeq}")
    require(df.schema(valueCol).dataType == LongType,
      s"perKeyRunningMaxExclusive needs a LongType value column; " +
        s"`$valueCol` is ${df.schema(valueCol).dataType.simpleString}")
    def valOf(r: Row): java.lang.Long =
      if (r.isNullAt(vIdx)) null else java.lang.Long.valueOf(r.getLong(vIdx))
    def mx(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
      if (a == null) b else if (b == null) a
      else java.lang.Long.valueOf(math.max(a.longValue, b.longValue))
    val out = StructField(outCol, LongType, nullable = true)
    scanHybrid[MaxState, java.lang.Long](df, keyCol, orderCols, out,
      precomputedHeavy)(
      summary = (m, r) => mx(m, valOf(r)),
      summary0 = null,
      init = MaxState(null, null),
      carry = (s, m) => MaxState(null, mx(s.cur, m)),
      step = (s, r) => MaxState(s.cur, mx(s.cur, valOf(r))),
      emit = (s: MaxState) => s.out)
  }

  /** Per-(partition, key) session sketch for [[perKeySessionIds]]:
    * first/last time of the run (null-boxed — a null event time is
    * legal and mirrors the window form's null arithmetic) and the
    * count of gap-starts strictly INSIDE the run (rows 2..n). */
  private final case class SessRun(first: java.lang.Long,
      last: java.lang.Long, internalStarts: Long, rows: Long)

  /** Carried scan state for [[perKeySessionIds]]: whether any row of
    * the key precedes this partition, the previous row's time
    * (null-boxed), and the session count so far. */
  private final case class SessState(seen: Boolean, prev: java.lang.Long,
      count: Long)

  /** Skew-proof gap sessionization ids: appends `outCol` = the 1-based
    * session number of each row within `keyCol`, ordered by `timeUsCol`
    * (epoch-microseconds LongType; `extraOrder` breaks ties after it) —
    * the exact two-pass twin of the window form
    * {{{
    *   flag = prev IS NULL OR t - prev > gapUs   // prev = lag(t, 1)
    *   session_id = sum(flag) over (partition by key order by t
    *                                rows unbounded preceding)
    * }}}
    * including its null arithmetic: the key's first row always starts
    * session 1; a row whose PREVIOUS time is NULL starts a new session
    * (the window form's `lag` null is indistinguishable from "no
    * previous row"); a row whose OWN time is NULL while the previous is
    * not never starts one (NULL > gap is false there). One mega-key (a
    * bot user holding a corpus-scale share of events) spreads over all
    * partitions instead of one task. */
  def perKeySessionIds(df: DataFrame, keyCol: String, timeUsCol: String,
      gapUs: Long, outCol: String,
      extraOrder: Seq[Column] = Nil,
      precomputedHeavy: Option[Seq[Any]] = None): DataFrame = {
    val tIdx = df.columns.indexOf(timeUsCol)
    require(tIdx >= 0, s"time column $timeUsCol not in ${df.columns.toSeq}")
    require(df.schema(timeUsCol).dataType == LongType,
      s"perKeySessionIds needs an epoch-micros LongType time column; " +
        s"`$timeUsCol` is ${df.schema(timeUsCol).dataType.simpleString}")
    def timeOf(r: Row): java.lang.Long =
      if (r.isNullAt(tIdx)) null else java.lang.Long.valueOf(r.getLong(tIdx))
    // a row starts a session iff it is the key's first row, the
    // previous time is null (the window form's lag-null), or the gap is
    // exceeded (null-safe: a null own-time never exceeds the gap)
    def starts(seen: Boolean, prev: java.lang.Long, t: java.lang.Long): Long =
      if (!seen || prev == null) 1L
      else if (t != null && t.longValue - prev.longValue > gapUs) 1L
      else 0L
    val out = StructField(outCol, LongType, nullable = false)
    def summaryF(m: SessRun, r: Row): SessRun = {
      val t = timeOf(r)
      if (m.rows == 0L) SessRun(t, t, 0L, 1L)
      else SessRun(m.first, t,
        m.internalStarts + starts(seen = true, m.last, t), m.rows + 1L)
    }
    def carryF(s: SessState, m: SessRun): SessState =
      if (m.rows == 0L) s
      else SessState(seen = true, m.last,
        s.count + starts(s.seen, s.prev, m.first) + m.internalStarts)
    def stepF(s: SessState, r: Row): SessState = {
      val t = timeOf(r)
      SessState(seen = true, t, s.count + starts(s.seen, s.prev, t))
    }
    val init = SessState(seen = false, prev = null, count = 0L)
    scanHybrid[SessState, SessRun](df, keyCol,
      col(timeUsCol) +: extraOrder, out, precomputedHeavy)(
      summaryF, SessRun(null, null, 0L, 0L), init, carryF, stepF,
      (s: SessState) => s.count)
  }

  /** The scan runs Spark jobs EAGERLY at operator-call time (the
    * heavy-key count, the two-pass leg's pass-1 run collect) and then
    * re-executes the input lineage for the splits / pass 2 — a
    * NONDETERMINISTIC upstream (`rand()` sampling, `uuid()`,
    * `monotonically_increasing_id()`) would silently disagree between
    * those executions, yielding wrong ranks/sessions/carries. This
    * guard walks the analyzed plan and fails fast with guidance: the
    * caller pins the input with an eager `localCheckpoint()` (one
    * extra materialization, after which the lineage IS deterministic). */
  private def ensureDeterministicLineage(df: DataFrame): DataFrame = {
    val nd = df.queryExecution.analyzed.exists(p =>
      p.expressions.exists(_.exists(e => !e.deterministic)))
    if (!nd) df
    else throw new IllegalArgumentException(
      "DistRank: the input plan contains a nondeterministic expression " +
        "(rand()/uuid()/monotonically_increasing_id()/...). These scans " +
        "execute the lineage MORE THAN ONCE (pass-1 offsets, the hybrid " +
        "split, then the output), so a nondeterministic input silently " +
        "produces wrong scan values. localCheckpoint() the input first.")
  }

  /** Key types the run detector / driver table may use: universal
    * equality must equal semantic equality. */
  private[graft] def validateKeyType(name: String, dt: DataType): Unit = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType | DateType | TimestampType | TimestampNTZType => ()
    case s: StructType =>
      s.fields.foreach(f => validateKeyType(s"$name.${f.name}", f.dataType))
    case other => throw new IllegalArgumentException(
      s"DistRank key column `$name` has type ${other.simpleString}, whose " +
        "universal equality is unsafe for run detection (NaN != NaN for " +
        "float/double, reference equality for binary/array, scale-" +
        "sensitive equals for decimal). Use an integral/string/boolean/" +
        "date/timestamp key, or a struct of those.")
  }

  /** The heavy-key leg of [[scanHybrid]]: range-partition +
    * partition-local sort on (key, orderCols...), fold each partition's
    * per-key runs into summaries `M` (bounded by #partitions + #heavy
    * keys rows, guarded then collected), fold summaries per key in
    * partition order into carried-in states `S`, then scan each run in
    * a second pass over the REUSED shuffle (Spark skips the completed
    * exchange map stage, so only the cheap partition-local sort re-runs
    * — no corpus-sized cache).
    *
    * `summary` folds pass-1 rows into a run summary (start `summary0`);
    * `carry(state, summary)` advances a key's carried state over one
    * earlier partition's run; `init` is the state before any row of a
    * key; `step` consumes a row in pass 2; `emit` reads the per-row
    * output from the POST-row state (inclusive-frame semantics). All
    * closures observe the PRE-SHUFFLE column order in both passes.
    *
    * NOTE for callers whose orderCols do NOT totally order rows within
    * a key: rows with EQUAL (key, orderCols...) never split across
    * partitions (the range partitioner maps equal keys identically),
    * but their relative order within a partition is arbitrary — the
    * op's semantics must be invariant to it (the funnel's strict-`>`
    * advance is; a rank is not, hence its tiebreaker contract). */
  private def scanTwoPass[S, M](df: DataFrame, keyCol: String,
      orderCols: Seq[Column], outField: StructField, nPart: Int)(
      summary: (M, Row) => M, summary0: => M,
      init: S, carry: (S, M) => S,
      step: (S, Row) => S, emit: S => Any): DataFrame = {
    val sortExprs = col(keyCol) +: orderCols
    val sorted = df.repartitionByRange(nPart, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
    val keyIdx = sorted.columns.indexOf(keyCol)
    val rdd = sorted.rdd
    val maxRuns = df.sparkSession.conf
      .get("spark.graft.distrank.maxRunsPerPartition",
        MaxRunsPerPartition.toString).toInt
    // pass 1: per-partition, per-key run summaries (range-sorted ->
    // contiguous runs; table size <= #partitions + #keys, enforced)
    val runs: Array[(Int, Any, M)] = rdd.mapPartitionsWithIndex {
      (pid, it) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, M)]
        var curKey: Any = null
        var started = false
        var acc: M = summary0
        it.foreach { r =>
          val k = r.get(keyIdx)
          if (!started || k != curKey) {
            if (started) buf += ((pid, curKey, acc))
            if (buf.length >= maxRuns) throw new IllegalStateException(
              s"DistRank: partition $pid holds more than $maxRuns distinct " +
                s"heavy `$keyCol` runs — the key cardinality is too high " +
                "for the driver-collected offset table. Raise " +
                "spark.graft.skew.heavyKeyRows so that only keys large " +
                "enough to skew a task count as heavy.")
            curKey = k; acc = summary0; started = true
          }
          acc = summary(acc, r)
        }
        if (started) buf += ((pid, curKey, acc))
        buf.iterator
    }.collect()
    // per-(partition, key) carried-in states: the key's `init` advanced
    // over the same key's summaries in earlier partitions
    val offsets: Map[(Int, Any), S] = runs
      .groupBy(_._2)
      .iterator.flatMap { case (k, rs) =>
        val byPid = rs.sortBy(_._1)
        var acc: S = init
        byPid.map { case (pid, _, m) =>
          val o = ((pid, k), acc); acc = carry(acc, m); o
        }
      }.toMap
    foldSorted(sorted, keyIdx, outField)(init, step, emit,
      (pid, k) => offsets.getOrElse((pid, k), init))
  }

  /** Single-pass per-key fold over an already key-clustered, locally
    * sorted frame: on each key change the state restarts from
    * `lookup(pid, key)`. The shared tail of both legs: the two-pass
    * scan (lookup = carried offsets) and the light path (lookup =
    * const init — each key is wholly inside one partition). */
  private def foldSorted[S](sorted: DataFrame, keyIdx: Int,
      outField: StructField)(init: S, step: (S, Row) => S, emit: S => Any,
      lookup: (Int, Any) => S): DataFrame = {
    val withOut = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var curKey: Any = null
      var started = false
      var st: S = init
      it.map { r =>
        val k = r.get(keyIdx)
        if (!started || k != curKey) {
          curKey = k; started = true
          st = lookup(pid, k)
        }
        st = step(st, r)
        Row.fromSeq(r.toSeq :+ emit(st))
      }
    }
    val schema = StructType(sorted.schema.fields :+ outField)
    sorted.sparkSession.createDataFrame(withOut, schema)
  }

  /** The heavy-key row threshold, `spark.graft.skew.heavyKeyRows`
    * (default 2 M): keys at or above it take the two-pass range scan;
    * lighter keys take the hash path. 2 M rows sort in one task in a
    * couple of seconds — the max-task ceiling the light path accepts. */
  private def defaultHeavyRowThreshold(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val t = spark.conf.get("spark.graft.skew.heavyKeyRows", "2000000").toLong
    require(t >= 1, s"spark.graft.skew.heavyKeyRows must be >= 1, got $t")
    t
  }

  /** Driver-table cap for the collected heavy-key set (override with
    * `spark.graft.skew.maxHeavyKeys`): the pigeonhole bound
    * (total/threshold) is only small when the threshold is large
    * relative to the input — an adversarial distribution at the
    * 100 TB design point could park millions of keys exactly at the
    * threshold, so the collect fails fast with guidance instead of
    * silently OOMing the driver / blowing up the broadcast. */
  val MaxHeavyKeys: Int = 1000000

  /** Session-scoped heavy-key cache — one count job per distinct
    * (key-projection plan, threshold, shuffle partitions) instead of
    * one per operator call
    * (the r16 verdict's finding 1: six event-tier queries over one
    * corpus paid six identical full count passes). Keyed on the
    * OPTIMIZED CANONICAL plan of `df.select(keyCol)`, so two calls hit
    * only when Catalyst proves the pruned key projection identical
    * (`sameResult` semantics — different inputs can never collide).
    * The heavy/light split is a pure EXECUTION-STRATEGY choice (both
    * legs compute identical outputs, pinned by the hybrid==two-pass
    * specs), so even a stale entry — same plan, underlying files
    * rewritten mid-session, already outside the scans' deterministic-
    * lineage contract — can only mis-route keys, never corrupt a
    * result. [[clearKeyCountCache]] drops all entries. */
  private val keyCountCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, Int),
    HeavyKeys]()

  /** One count's verdict: the keys at or above the threshold, and
    * whether the input has so few keys (at most #partitions) that all
    * of them should take the two-pass leg. */
  private final case class HeavyKeys(values: Array[Any], all: Boolean)

  def clearKeyCountCache(): Unit = keyCountCache.clear()

  private[graft] def keyCountCacheSize: Int = keyCountCache.size

  /** The values of keys holding at least the heavy-key threshold of
    * rows (see [[heavyKeys]]). */
  private[graft] def heavyKeyValues(df: DataFrame,
      keyCol: String): Array[Any] = heavyKeys(df, keyCol).values

  /** The one count behind the dispatch — one map-side-combinable count
    * job, cached per session (see [[keyCountCache]]). Each count
    * partition returns its heavy keys plus its first #partitions + 1
    * keys, so at most #partitions rows back means the driver saw every
    * key: such an input takes the two-pass leg whole, because the hash
    * fold runs each key in one task and could not use more tasks than
    * there are keys. The heavy set is bounded by pigeonhole at
    * total/threshold, which is only "small" when the threshold is
    * proportionate to the input, so the collect is capped
    * (`spark.graft.skew.maxHeavyKeys`) and fails fast with guidance
    * instead of OOMing the driver. */
  private def heavyKeys(df: DataFrame, keyCol: String): HeavyKeys = {
    val spark = df.sparkSession
    val threshold = defaultHeavyRowThreshold(spark)
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val cacheKey = (df.select(col(keyCol)).queryExecution
      .optimizedPlan.canonicalized, threshold, nPart)
    Option(keyCountCache.get(cacheKey)).getOrElse {
      val maxHeavy = spark.conf
        .get("spark.graft.skew.maxHeavyKeys", MaxHeavyKeys.toString).toInt
      val counted = df.groupBy(keyCol).agg(count(lit(1)).as("__cnt")).rdd
      // the light keys sent back are bounded per partition, so the cap
      // still cuts only when the heavy set itself is too large
      val cap = maxHeavy + counted.getNumPartitions * (nPart + 1L) + 1L
      val rows = counted.mapPartitions(_.zipWithIndex.collect {
          case (r, i) if i <= nPart || r.getLong(1) >= threshold => r
        }).take(math.min(cap, Int.MaxValue - 1L).toInt)
      val heavyRows = rows.filter(_.getLong(1) >= threshold)
      if (heavyRows.length > maxHeavy) throw new IllegalStateException(
        s"DistRank: more than $maxHeavy keys exceed the " +
          s"heavy-row threshold $threshold — the heavy-key broadcast " +
          "would not be small. Raise the threshold " +
          "(spark.graft.skew.heavyKeyRows) so 'heavy' means a key large " +
          "enough to matter, or raise spark.graft.skew.maxHeavyKeys if " +
          "the driver can really hold this set.")
      val hk = HeavyKeys(heavyRows.map(_.get(0)),
        all = rows.nonEmpty && rows.length <= nPart)
      if (keyCountCache.size >= 64) keyCountCache.clear()
      keyCountCache.put(cacheKey, hk)
      hk
    }
  }

  /** The one heavy/light split: `(light, heavy)` = the rows of `df`
    * whose `keyCol` is NOT / IS among `heavyVals`, each in `df`'s
    * column order (fold closures read fields BY INDEX). NULL-SAFE: a
    * heavy NULL key (or a struct key with a null field) must route
    * HEAVY — a plain equi-join condition never matches null, which
    * would silently send the hottest key of all (the null bucket)
    * through the light path's one-task fold. */
  private[graft] def splitHeavyLight(df: DataFrame, keyCol: String,
      heavyVals: Seq[Any]): (DataFrame, DataFrame) = {
    val heavyDf = broadcast(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(heavyVals.map(v => Row(v)): _*),
      StructType(Seq(df.schema(keyCol).copy(name = "__hk")))))
    val cond = df(keyCol) <=> heavyDf("__hk")
    val cols = df.columns.map(col).toSeq
    (df.join(heavyDf, cond, "left_anti").select(cols: _*),
      df.join(heavyDf, cond, "left_semi").select(cols: _*))
  }

  /** The per-key scan dispatch every op above takes:
    *
    *  1. The HEAVY keys (rows >= the threshold) come from
    *     `precomputedHeavy` or one cached count ([[heavyKeys]]); by
    *     pigeonhole there are at most total/threshold of them. When
    *     the count sees no more keys than partitions, every key is
    *     heavy and the whole input takes the two-pass leg.
    *  2. Heavy keys take [[scanTwoPass]]: flat max-task, a
    *     corpus-sized key spreads over all partitions; the driver run
    *     table is bounded by (#heavy keys x #partitions).
    *  3. The unbounded tail of light keys takes a hash-partitioned
    *     SINGLE-pass fold ([[foldSorted]] with `init` lookup): each
    *     key sits wholly inside one task — the window's distribution,
    *     acceptable because every light key is below the threshold by
    *     definition — with NO driver table at all.
    *
    * Costs one aggregate job, plus two broadcast splits when heavy
    * keys exist. Both legs share `step`/`emit`, so semantics are
    * identical; ops whose orderCols do not totally order rows must be
    * tie-order invariant (see [[scanTwoPass]]).
    *
    * NOTE: the count and pass 1 run EAGERLY at operator-call time —
    * building the result frame executes Spark jobs, unlike a
    * declarative plan — and the input's lineage must be DETERMINISTIC
    * between those jobs and the output's actions (no `rand()`
    * upstream, no source overwritten mid-flight; `localCheckpoint()`
    * the input first if in doubt). */
  private[graft] def scanHybrid[S, M](df0: DataFrame, keyCol: String,
      orderCols: Seq[Column], outField: StructField,
      precomputedHeavy: Option[Seq[Any]] = None)(
      summary: (M, Row) => M, summary0: => M,
      init: S, carry: (S, M) => S,
      step: (S, Row) => S, emit: S => Any): DataFrame = {
    val df = ensureDeterministicLineage(df0)
    val nPart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    validateKeyType(keyCol, df.schema(keyCol).dataType)
    val sortExprs = col(keyCol) +: orderCols
    def lightScan(light: DataFrame): DataFrame = {
      val clustered = light.repartition(nPart, col(keyCol))
        .sortWithinPartitions(sortExprs: _*)
      val keyIdx = clustered.columns.indexOf(keyCol)
      foldSorted(clustered, keyIdx, outField)(init, step, emit,
        (_, _) => init)
    }
    def twoPass(heavy: DataFrame): DataFrame =
      scanTwoPass(heavy, keyCol, orderCols, outField, nPart)(
        summary, summary0, init, carry, step, emit)
    val hk = precomputedHeavy.fold(heavyKeys(df, keyCol))(ks =>
      HeavyKeys(ks.toArray, all = false))
    if (hk.all) twoPass(df)
    else if (hk.values.isEmpty) lightScan(df)
    else {
      val (light, heavy) = splitHeavyLight(df, keyCol, hk.values.toSeq)
      lightScan(light).unionByName(twoPass(heavy))
    }
  }
}
