package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal join operators Spark lacks natively.
  *
  * The headline is [[asofJoin]]: for every left row, attach the most
  * recent right row (by time, inclusive) with the same keys — the
  * point-in-time lookup used by market-data enrichment, slowly-changing
  * dimensions, and feature back-fill in training pipelines.
  *
  * Scale design: the naive formulation is an inequality join
  * (`l.key = r.key AND r.t <= l.t` + argmax), which explodes to
  * |L|x|R| candidate pairs per key before the argmax prunes them — a
  * non-starter at 100 TB. This implementation instead unions the two
  * sides with a tag, range-shuffles ONCE by (keys, time), and carries
  * the latest right-side values forward with a skew-proof two-pass
  * running `last(ignoreNulls)` ([[graft.util.DistRank
  * .perKeyRunningLast]]). Work and shuffle volume are linear in
  * |L|+|R|, the plan contains no join at all, and — unlike the
  * single-window form this replaced — ONE hot key (a bot user holding
  * a corpus-scale share of events) spreads over many range partitions
  * instead of serializing through one task's sort.
  */
object Temporal {

  /** The as-of time axis: a timestamp or integral time column as
    * LongType epoch microseconds; `op` names the caller in the error. */
  private def epochMicros(c: Column, dt: DataType, op: String): Column =
    dt match {
      case TimestampType | TimestampNTZType => unix_micros(c.cast("timestamp"))
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case other => throw new IllegalArgumentException(
        s"$op needs timestamp or integral time columns; " +
          s"got ${other.simpleString}")
    }

  /** Fail fast with the exact offending columns — each clash would
    * otherwise surface later as a confusing analysis error (duplicate
    * column in a select) or as silently-wrong running-scan input. */
  private def requireNoClash(op: String, left: DataFrame,
      right: DataFrame, on: Seq[String], leftTime: String,
      leftPayload: Seq[String], rightCarry: Seq[String],
      reserved: Seq[String]): Unit = {
    val clashPayload = leftPayload.intersect(rightCarry)
    require(clashPayload.isEmpty,
      s"rename right columns ${clashPayload.mkString(", ")} — they clash with left payload columns")
    val clashOn = rightCarry.filter(on.contains)
    require(clashOn.isEmpty,
      s"right columns ${clashOn.mkString(", ")} clash with the `on` keys; rename them before the join")
    require(!rightCarry.contains(leftTime),
      s"right column `$leftTime` clashes with the left time column; rename it before the join")
    val clashReserved =
      (left.columns ++ right.columns).distinct.filter(reserved.contains)
    require(clashReserved.isEmpty,
      s"columns ${clashReserved.mkString(", ")} collide with $op's reserved internal names (${reserved.mkString(", ")})")
  }

  /** As-of (backward, inclusive) join.
    *
    * @param left      rows to enrich; all its columns are preserved
    * @param right     lookup rows; only `rightVals` columns are attached
    * @param on        equality keys present on both sides
    * @param leftTime  event-time column on `left`
    * @param rightTime event-time column on `right`
    * @param rightVals right columns to carry onto each left row (may
    *                  include `rightTime` itself); names must not clash
    *                  with left columns — rename on the way in
    * @param tieBreak  right columns ordering simultaneous right rows
    *                  (same keys + time); the LAST row in this order
    *                  wins. Empty = arbitrary-but-stable only when
    *                  (keys, time) are unique on the right.
    *
    * A right row at exactly `leftTime` IS visible to that left row
    * (`r.t <= l.t`, matching DuckDB's `ASOF JOIN ... ON l.t >= r.t`).
    * Left rows with no prior right row keep NULL `rightVals` (left
    * outer semantics).
    *
    * @param toleranceUs when set, a match older than this many
    *                    microseconds before the left time is treated
    *                    as NO match (all `rightVals` NULL) — the
    *                    market-data staple "nearest quote, but only if
    *                    fresh". Requires timestamp or integral time
    *                    columns (the distance needs an arithmetic
    *                    axis). Tolerance 0 keeps only exact-time
    *                    matches.
    */
  def asofJoin(left: DataFrame, right: DataFrame, on: Seq[String],
      leftTime: String, rightTime: String, rightVals: Seq[String],
      tieBreak: Seq[String] = Nil,
      toleranceUs: Option[Long] = None): DataFrame = {
    val leftPayload =
      left.columns.toSeq.filterNot(c => on.contains(c) || c == leftTime)
    // tieBreak columns ride along in the union even when not carried out.
    val rightCarry = rightVals ++ tieBreak.filterNot(rightVals.contains)
    requireNoClash("asofJoin", left, right, on, leftTime, leftPayload,
      rightCarry, Seq("__t", "__is_l", "__r", "__rv", "__k"))
    val l = left.select(
      on.map(col) ++
        Seq(col(leftTime).as("__t"), lit(true).as("__is_l")) ++
        leftPayload.map(col) ++
        rightCarry.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val r = right.select(
      on.map(col) ++
        Seq(col(rightTime).as("__t"), lit(false).as("__is_l")) ++
        leftPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCarry.map(col): _*)
    // Right rows sort BEFORE left rows at equal time (false < true), so
    // an equal-time right row is inside the running frame — inclusive
    // as-of. tieBreak columns are NULL on left rows (constant within the
    // left group), so they only order simultaneous right rows.
    // The right values ride in ONE struct: a struct built from a right
    // row is never NULL even when its fields are, so the running last()
    // always carries the fields of the single most recent right row.
    // (Carrying each column with its own last(ignoreNulls) would let a
    // NULL in the newest right row expose a stale value from an older
    // one — a torn row mixing two right rows.)
    // The carry-forward itself is DistRank's HYBRID running last over
    // a (keys)-struct key in (__t, __is_l, tieBreak...) order — exactly
    // the window's nulls-first ascending order. Hot keys above the
    // heavy-row threshold spread over all partitions (two-pass range
    // scan); the unbounded tail of normal keys folds hash-partitioned
    // with no driver table, so key cardinality stays unbounded.
    // With a tolerance, the carried struct additionally records the
    // matched right row's time in epoch micros (internal field), so
    // the post-filter can null out matches that are too stale. The
    // micros axis also works for the FORWARD wrapper's negated longs:
    // there, __t - __tol_rt equals (r - l) on the original axis — the
    // lookahead distance — so one formula covers both directions.
    def micros(c: Column, dt: DataType): Column =
      epochMicros(c, dt, "asofJoin tolerance")
    require(toleranceUs.isEmpty || !rightVals.contains("__tol_rt"),
      "right column `__tol_rt` collides with the tolerance carry field")
    val carryStruct =
      if (toleranceUs.isEmpty) struct(rightVals.map(col): _*)
      else struct(rightVals.map(col) :+
        micros(col("__t"), right.schema(rightTime).dataType)
          .as("__tol_rt"): _*)
    val unioned = l.unionByName(r)
      .withColumn("__rv", when(!col("__is_l"), carryStruct))
      .withColumn("__k", struct(on.map(col): _*))
    val carried = graft.util.DistRank.perKeyRunningLast(unioned, "__k",
      col("__t") +: col("__is_l") +: tieBreak.map(col), "__rv", "__r")
    val lefts = carried.filter(col("__is_l"))
      .withColumn(leftTime, col("__t"))
    val outVals = toleranceUs match {
      case None => rightVals.map(c => col("__r").getField(c).as(c))
      case Some(tol) =>
        require(tol >= 0, s"toleranceUs must be >= 0, got $tol")
        val dist = micros(col("__t"), left.schema(leftTime).dataType) -
          col("__r").getField("__tol_rt")
        rightVals.map(c =>
          when(dist <= tol, col("__r").getField(c)).as(c))
    }
    lefts.select((on ++ Seq(leftTime) ++ leftPayload).map(col) ++ outVals: _*)
  }

  /** FORWARD (inclusive) as-of join: for every left row, attach the
    * EARLIEST right row with the same keys at or after the left time
    * (`r.t >= l.t`) — the time-to-next-event enrichment (conversion
    * lag, next-session lookahead, label leakage checks in feature
    * back-fill). Left rows with no following right row keep NULL
    * `rightVals`.
    *
    * Implemented as [[asofJoin]] on a NEGATED microsecond time axis:
    * `r.t >= l.t` is `-r.t <= -l.t`, so the whole de-skewed union +
    * two-pass running-`last` machinery (and its null/struct-torn-row
    * guarantees) is reused verbatim — one range shuffle, no join, a hot
    * key spreads over many partitions. Time columns must be
    * timestamps or integral epochs (the negation needs an arithmetic
    * axis). Among simultaneous earliest right rows the LAST in
    * `tieBreak` order wins, same convention as the backward join. */
  def asofJoinForward(left: DataFrame, right: DataFrame, on: Seq[String],
      leftTime: String, rightTime: String, rightVals: Seq[String],
      tieBreak: Seq[String] = Nil,
      toleranceUs: Option[Long] = None): DataFrame = {
    def negMicros(df: DataFrame, c: String): Column =
      -epochMicros(col(c), df.schema(c).dataType, "asofJoinForward")
    val fwdReserved = Seq("__fwd_lt", "__fwd_rt")
    val clash = (left.columns ++ right.columns).distinct
      .filter(fwdReserved.contains)
    require(clash.isEmpty, s"columns ${clash.mkString(", ")} collide " +
      "with asofJoinForward's reserved internal names (__fwd_lt, __fwd_rt)")
    val l2 = left.withColumn("__fwd_lt", negMicros(left, leftTime))
    val r2 = right.withColumn("__fwd_rt", negMicros(right, rightTime))
    asofJoin(l2, r2, on, "__fwd_lt", "__fwd_rt", rightVals, tieBreak,
        toleranceUs)
      .drop("__fwd_lt")
  }

  /** NEAREST as-of join (pandas `merge_asof(direction="nearest")`
    * parity): for every left row, attach the right row with the same
    * keys whose time is CLOSEST to the left time, looking both
    * directions; on an exact distance tie the BACKWARD (earlier) match
    * wins — the pandas convention. With `toleranceUs`, matches farther
    * than the tolerance in either direction null out. Time columns
    * must be timestamps or integral epochs (the distance needs an
    * arithmetic axis).
    *
    * Scale design: both directional matches ride the same de-skewed
    * union + running-`last` machinery as [[asofJoin]] — the union is
    * built ONCE on a microsecond axis, the backward carry is one
    * hybrid scan, and the forward carry is a second hybrid scan of the
    * already-carried frame on the negated axis (every left row then
    * holds BOTH candidate structs; no join, no unique-left-id
    * requirement, work linear in |L|+|R|). The heavy-key set is
    * counted once and shared by both scans. Tie conventions among
    * simultaneous right rows match the directional joins (`tieBreak`
    * last wins). */
  def asofJoinNearest(left: DataFrame, right: DataFrame, on: Seq[String],
      leftTime: String, rightTime: String, rightVals: Seq[String],
      tieBreak: Seq[String] = Nil,
      toleranceUs: Option[Long] = None): DataFrame = {
    val leftPayload =
      left.columns.toSeq.filterNot(c => on.contains(c) || c == leftTime)
    val rightCarry = rightVals ++ tieBreak.filterNot(rightVals.contains)
    requireNoClash("asofJoinNearest", left, right, on, leftTime,
      leftPayload, rightCarry,
      Seq("__t", "__is_l", "__k", "__rv", "__rb", "__rf", "__lt0", "__m_rt"))
    toleranceUs.foreach(t =>
      require(t >= 0, s"toleranceUs must be >= 0, got $t"))
    def micros(c: Column, dt: DataType): Column =
      epochMicros(c, dt, "asofJoinNearest")
    // the union rides a LONG micros axis (both directions need the
    // arithmetic); the original left time is carried as payload so the
    // output keeps its exact type and value
    val l = left.select(
      on.map(col) ++
        Seq(micros(col(leftTime), left.schema(leftTime).dataType).as("__t"),
          lit(true).as("__is_l"), col(leftTime).as("__lt0")) ++
        leftPayload.map(col) ++
        rightCarry.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val r = right.select(
      on.map(col) ++
        Seq(micros(col(rightTime), right.schema(rightTime).dataType).as("__t"),
          lit(false).as("__is_l"),
          lit(null).cast(left.schema(leftTime).dataType).as("__lt0")) ++
        leftPayload.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCarry.map(col): _*)
    // one struct per right row, including its own time for the
    // distance compare (same torn-row guarantee as asofJoin)
    val carryStruct = struct(rightVals.map(col) :+ col("__t").as("__m_rt"): _*)
    val unioned = l.unionByName(r)
      .withColumn("__rv", when(!col("__is_l"), carryStruct))
      .withColumn("__k", struct(on.map(col): _*))
    // one count, both scans: the key population is identical
    val heavy = Some(graft.util.DistRank.heavyKeyValues(unioned, "__k").toSeq)
    val back = graft.util.DistRank.perKeyRunningLast(unioned, "__k",
      col("__t") +: col("__is_l") +: tieBreak.map(col), "__rv", "__rb",
      precomputedHeavy = heavy)
    val both = graft.util.DistRank.perKeyRunningLast(back, "__k",
      (-col("__t")) +: col("__is_l") +: tieBreak.map(col), "__rv", "__rf",
      precomputedHeavy = heavy)
    val lefts = both.filter(col("__is_l"))
    val distB = col("__t") - col("__rb").getField("__m_rt")
    val distF = col("__rf").getField("__m_rt") - col("__t")
    val bOk = col("__rb").isNotNull &&
      toleranceUs.map(t => distB <= lit(t)).getOrElse(lit(true))
    val fOk = col("__rf").isNotNull &&
      toleranceUs.map(t => distF <= lit(t)).getOrElse(lit(true))
    val pickB = bOk && (!fOk || distB <= distF)
    val outVals = rightVals.map(c =>
      when(pickB, col("__rb").getField(c))
        .otherwise(when(fOk, col("__rf").getField(c))).as(c))
    lefts.select(on.map(col) ++ Seq(col("__lt0").as(leftTime)) ++
      leftPayload.map(col) ++ outVals: _*)
  }

  /** Per-key fixed-interval resampling with last-observation-carried-
    * forward (LOCF gap fill) — the time-series regularization step
    * feature pipelines need before windowed aggregation or model
    * input: for every key, a dense epoch-micros grid from
    * `floor(min t / step)*step` to `floor(max t / step)*step`
    * inclusive, each grid point carrying the latest observation at or
    * before it (NULL `carry` columns before the first observation).
    *
    * Scale design: the grid is generated by a THREE-LEVEL
    * `sequence`+`explode` (super-chunks of 65,536 chunks, chunks of
    * 65,536 steps, then steps), so every per-row array stays at most
    * 65,536 elements for grids up to 2^48 points per key (a
    * micros-step grid spanning nine YEARS) — a single
    * `sequence(min, max)` would buffer a years-at-seconds key's whole
    * grid in one task row, and a two-level form merely moves that
    * blow-up to its chunk-start array. The carry itself IS
    * [[asofJoin]] (grid as the left side), so it inherits the hybrid
    * de-skew: hot keys spread, normal keys hash-fold, |grid|+|obs|
    * linear work, no inequality-join fanout.
    *
    * `timeUsCol` must be LongType epoch micros; observations with NULL
    * time are ignored; `tieBreak` orders simultaneous observations
    * (last wins — the asofJoin convention). */
  def resampleLocf(obs: DataFrame, on: Seq[String], timeUsCol: String,
      stepUs: Long, carry: Seq[String], tieBreak: Seq[String] = Nil,
      gridCol: String = "grid_us"): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    val chunk = 65536L
    require(stepUs <= Long.MaxValue / chunk,
      s"stepUs too large for the chunked grid generator: $stepUs")
    val stride1 = stepUs * chunk
    // super-chunk stride, saturated: when stepUs is already huge the
    // whole range fits one super-chunk and level 1 degenerates to a
    // single element — still correct, never overflows
    val stride2 =
      if (stride1 <= Long.MaxValue / chunk) stride1 * chunk
      else Long.MaxValue / 2
    require(obs.schema(timeUsCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"resampleLocf needs an epoch-micros LongType time column; " +
        s"`$timeUsCol` is ${obs.schema(timeUsCol).dataType.simpleString}")
    require(!obs.columns.contains(gridCol),
      s"grid column name `$gridCol` already exists on the input")
    val o = obs.filter(col(timeUsCol).isNotNull)
    // FLOOR division for the grid bounds (`x - pmod(x, step)`), not
    // Spark's truncate-toward-zero `div`: for pre-1970 (negative)
    // epoch micros `div` would shift the bounds up one step and
    // diverge from the floor-division (`//`) oracle formulation; for
    // non-negative times the two coincide.
    val bounds = o.groupBy(on.map(col): _*).agg(
      expr(s"min($timeUsCol) - pmod(min($timeUsCol), ${stepUs}L)")
        .as("__gmin"),
      expr(s"max($timeUsCol) - pmod(max($timeUsCol), ${stepUs}L)")
        .as("__gmax"))
    // Each level's stop is `start + delta` clamped to __gmax — but the
    // raw sum can overflow Long when the stride sits just below the
    // saturation branch (stepUs near 2^31 us with modern epochs), so
    // the addition is guarded: past Long.MaxValue - delta the clamp to
    // __gmax is already the right answer.
    def stopAt(start: Column, delta: Long, gmax: Column): Column =
      when(start > lit(Long.MaxValue - delta), gmax)
        .otherwise(least(start + lit(delta), gmax))
    val grid = bounds
      .withColumn("__sstart", explode(sequence(col("__gmin"),
        col("__gmax"), lit(stride2))))
      .withColumn("__cstart", explode(sequence(col("__sstart"),
        stopAt(col("__sstart"), stride2 - stride1, col("__gmax")),
        lit(stride1))))
      .withColumn(gridCol, explode(sequence(col("__cstart"),
        stopAt(col("__cstart"), stepUs * (chunk - 1), col("__gmax")),
        lit(stepUs))))
      .select((on :+ gridCol).map(col): _*)
    asofJoin(grid, o, on, gridCol, timeUsCol, carry, tieBreak)
  }

  /** Floor-align `c` to the bin grid: `floor(c / w) * w`, computed as
    * `c - pmod(c, w)` so the arithmetic stays exact in Long (Spark's
    * `/` on longs goes through Double, and `div` truncates toward
    * zero — wrong for negative values). */
  private def alignedBin(c: Column, binWidth: Long): Column =
    c - pmod(c, lit(binWidth))

  /** Explode an interval table to one row per covered bin.
    *
    * Covered bins of half-open `[lo, hi)` are the aligned starts
    * `floor(lo/w)*w .. floor((hi-1)/w)*w` stepping by `w`. Rows with
    * NULL or empty (`lo >= hi`) intervals are dropped. An interval
    * spanning more than `maxBins` bins fails the JOB with a message
    * naming the offending interval — the guard is the `when` branch
    * feeding the `sequence` start, so the optimizer can never prune
    * it. (A degenerate interval whose aligned span overflows Long —
    * bounds within `w` of `Long.MinValue` — also trips the guard: the
    * wrapped span goes negative.) Per-row array size is bounded by
    * `maxBins` (default 4096 ≈ 32 KB), so generation never buffers a
    * giant interval's whole grid in one row. */
  private def explodeBins(df: DataFrame, loCol: String, hiCol: String,
      binWidth: Long, maxBins: Int, binCol: String): DataFrame = {
    val msg = concat(
      lit(s"graft rangeJoin: interval spans more than maxBinsPerInterval=" +
        s"$maxBins bins of width $binWidth: ["),
      col(loCol).cast("string"), lit(","), col(hiCol).cast("string"),
      lit(")"))
    val b0 = alignedBin(col(loCol), binWidth)
    val span = col("__graft_b1") - b0
    df.filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(loCol) < col(hiCol))
      .withColumn("__graft_b1", alignedBin(col(hiCol) - lit(1L), binWidth))
      .withColumn("__graft_b0",
        when(span >= 0 && span <= lit(binWidth * (maxBins - 1L)), b0)
          .otherwise(raise_error(msg).cast("long")))
      .withColumn(binCol, explode(sequence(col("__graft_b0"),
        col("__graft_b1"), lit(binWidth))))
      .drop("__graft_b0", "__graft_b1")
  }

  private def requireLong(df: DataFrame, c: String, op: String): Unit = {
    require(df.columns.contains(c), s"$op: column `$c` not in " +
      df.columns.toSeq.mkString("[", ", ", "]"))
    require(df.schema(c).dataType == org.apache.spark.sql.types.LongType,
      s"$op needs LongType (e.g. epoch-micros) range columns; `$c` is " +
        df.schema(c).dataType.simpleString)
  }

  private def requireDisjoint(a: DataFrame, b: DataFrame, on: Seq[String],
      op: String): Unit = {
    val clash = a.columns.toSet.intersect(b.columns.toSet) -- on.toSet
    require(clash.isEmpty, s"$op: column names present on both sides " +
      s"(rename one): ${clash.toSeq.sorted.mkString(", ")}")
    Seq(a, b).foreach(d => require(!d.columns.exists(_.startsWith("__graft_")),
      s"$op: reserved `__graft_` column names on the input"))
  }

  /** Binned range join: match each fact row (point `factValue`) to
    * every interval row whose half-open `[loCol, hiCol)` contains it,
    * optionally under equality keys `on` — the LARGE-interval-table
    * complement of the broadcast band join (q15): when the interval
    * side is itself corpus-scale (one window per error event, one
    * validity range per dimension version), broadcasting is off the
    * table and the naive non-equi join is a nested loop.
    *
    * Scale design: intervals explode to one row per covered bin of
    * width `binWidth` (cost Σ span/`binWidth`, bounded per interval by
    * `maxBinsPerInterval` — fail-fast, never a silent blow-up), facts
    * compute their single containing bin, and the match becomes a
    * plain shuffle EQUI-join on (`on`, bin) + an exact residual filter
    * `lo <= v < hi`. The fact side — the big one — shuffles ONCE with
    * NO replication; plan cost is linear in |facts| + exploded
    * intervals, never |facts|×|intervals|. A hot (key, bin) cell is a
    * plain skewed shuffle-join partition, which AQE's skew-join split
    * handles at runtime (the join is a standard SortMergeJoin, not a
    * custom scan). Choose `binWidth` near the typical interval span:
    * wider bins cut interval replication, narrower bins cut the
    * residual-filter fan-in per fact.
    *
    * All fact columns and all interval columns are kept (inner join;
    * `on` keys merge). Facts with NULL `factValue`, and NULL/empty
    * intervals, drop. Range columns must be LongType — the bin
    * arithmetic must be exact. */
  def rangeJoin(facts: DataFrame, intervals: DataFrame, factValue: String,
      loCol: String, hiCol: String, binWidth: Long,
      on: Seq[String] = Nil, maxBinsPerInterval: Int = 4096): DataFrame = {
    require(binWidth > 0, s"rangeJoin: binWidth must be positive, got $binWidth")
    require(maxBinsPerInterval > 0 &&
      binWidth <= Long.MaxValue / maxBinsPerInterval,
      s"rangeJoin: binWidth * maxBinsPerInterval overflows Long " +
        s"($binWidth * $maxBinsPerInterval)")
    requireLong(facts, factValue, "rangeJoin")
    requireLong(intervals, loCol, "rangeJoin")
    requireLong(intervals, hiCol, "rangeJoin")
    on.foreach { k =>
      require(facts.columns.contains(k) && intervals.columns.contains(k),
        s"rangeJoin: equi-key `$k` must be on both sides")
    }
    requireDisjoint(facts, intervals, on, "rangeJoin")
    val bin = "__graft_bin"
    val iv = explodeBins(intervals, loCol, hiCol, binWidth,
      maxBinsPerInterval, bin)
    facts.filter(col(factValue).isNotNull)
      .withColumn(bin, alignedBin(col(factValue), binWidth))
      .join(iv, on :+ bin)
      .filter(col(factValue) >= col(loCol) && col(factValue) < col(hiCol))
      .drop(bin)
  }

  /** Per-key exact TIME-WEIGHTED averages over fixed buckets — the
    * metrics/sensor staple ("hourly average, where a reading holds
    * until the next one"): each observation holds its value from its
    * time until the key's next observation, capped at `maxHoldUs`
    * (stale readings must not extend forever — the cap also bounds
    * the per-hold bucket fan-out); the key's LAST observation holds
    * for the full cap. Hold intervals are split exactly across the
    * aligned `bucketUs` grid, and each (key, bucket) row carries the
    * integer covered duration `dur_us`, the duration-weighted value
    * sum `vsum`, and their ratio `twa`.
    *
    * Scale design: the next-observation lookup is the de-skewed
    * forward lag ([[graft.util.DistRank.perKeyLag]] on the negated
    * time axis — a bot key spreads, no window), the grid split is the
    * guarded bin explode (≤ `maxHoldUs / bucketUs` + 1 rows per hold,
    * fail-fast cap), and the rollup is one map-side-combinable hash
    * aggregate. No join anywhere. Duplicate (key, time) observations:
    * order them with `tieBreak` — earlier duplicates get zero-length
    * holds and drop, the LAST in order holds (the asofJoin
    * convention). NULL time or value rows drop. */
  def timeWeightedAverage(df: DataFrame, keyCol: String,
      timeUsCol: String, valueCol: String, bucketUs: Long,
      maxHoldUs: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    require(bucketUs > 0, s"timeWeightedAverage: bucketUs must be " +
      s"positive, got $bucketUs")
    require(maxHoldUs > 0, s"timeWeightedAverage: maxHoldUs must be " +
      s"positive, got $maxHoldUs")
    require(maxHoldUs <= Long.MaxValue - bucketUs,
      s"timeWeightedAverage: maxHoldUs + bucketUs overflows Long")
    requireLong(df, timeUsCol, "timeWeightedAverage")
    val maxBins = (maxHoldUs / bucketUs + 2).min(Int.MaxValue).toInt
    val sel = df
      .select((Seq(keyCol, timeUsCol, valueCol) ++ tieBreak).map(col): _*)
      .filter(col(timeUsCol).isNotNull && col(valueCol).isNotNull)
    // forward lag: the previous row on the fully REVERSED axis is the
    // next observation; reversed tieBreak keeps duplicate-time
    // semantics (the LAST duplicate in ascending order sees the true
    // next time, earlier ones see their twin and hold zero length)
    val nxt = graft.util.DistRank.perKeyLag(sel, keyCol,
      desc(timeUsCol) +: tieBreak.map(desc), timeUsCol, "__next")
    val capped = when(col(timeUsCol) > lit(Long.MaxValue - maxHoldUs),
      lit(Long.MaxValue)).otherwise(col(timeUsCol) + lit(maxHoldUs))
    val holds = nxt
      .withColumn("__hi", least(coalesce(col("__next"), capped), capped))
      .withColumn("__lo", col(timeUsCol))
      .filter(col("__hi") > col("__lo"))
    val bin = "__graft_bin"
    explodeBins(holds, "__lo", "__hi", bucketUs, maxBins, bin)
      .groupBy(col(keyCol), col(bin).as("bucket_us"))
      .agg(
        sum(least(col("__hi"), col(bin) + lit(bucketUs)) -
          greatest(col("__lo"), col(bin))).as("dur_us"),
        sum(col(valueCol).cast("double") *
          (least(col("__hi"), col(bin) + lit(bucketUs)) -
            greatest(col("__lo"), col(bin)))).as("vsum"))
      .withColumn("twa", col("vsum") / col("dur_us"))
  }

  /** Per-key interval coalescing (gaps-and-islands): collapse the
    * half-open `[loCol, hiCol)` intervals of each key into their
    * union's maximal disjoint islands — validity-range consolidation,
    * downtime merging, coverage computation. Touching intervals
    * (`hi == next lo`) merge (contiguous half-open coverage);
    * NULL-ended and empty (`lo >= hi`) intervals drop. Returns one row
    * per island: (keyCol, loCol = min lo, hiCol = max hi,
    * `n_merged` = source-interval count, multiplicities kept).
    *
    * Scale design: a row starts a new island iff its `lo` exceeds the
    * max `hi` of ALL prior rows (in (lo, hi) order) — a long interval
    * can bridge many short ones far ahead, so the flag needs a running
    * max, not a `lag`. That island count is NOT composable across
    * partition runs (a carried max can dissolve a run's internal
    * breaks), so no single bounded-summary scan exists; instead two
    * composable de-skewed scans layer:
    * [[graft.util.DistRank.perKeyRunningMaxExclusive]] (run max
    * composes by max) then [[graft.util.DistRank.perKeyRunningSum]]
    * over the island-start flags — both hybrid-dispatched, so one
    * mega-key spreads and normal-key cardinality stays unbounded, at
    * the cost of two scan passes. The final islands aggregate is a
    * plain map-side-combinable groupBy. */
  def mergeIntervals(df: DataFrame, keyCol: String, loCol: String,
      hiCol: String): DataFrame = {
    requireLong(df, loCol, "mergeIntervals")
    requireLong(df, hiCol, "mergeIntervals")
    require(df.columns.contains(keyCol),
      s"mergeIntervals: key column `$keyCol` not in ${df.columns.toSeq}")
    Seq("__pm", "__new", "__island", "n_merged").foreach(c =>
      require(!df.columns.contains(c),
        s"mergeIntervals: input column `$c` collides with an internal/" +
          "output name"))
    val clean = df.select(col(keyCol), col(loCol), col(hiCol))
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(loCol) < col(hiCol))
    // ONE heavy-key count serves both scans: scan 2's input is a
    // projection of scan 1's output with identical per-key row counts,
    // but its plan canonicalizes differently, so the session count
    // cache alone would pay the count job twice
    val heavy = Some(graft.util.DistRank.heavyKeyValues(clean, keyCol).toSeq)
    val pm = graft.util.DistRank.perKeyRunningMaxExclusive(
      clean, keyCol, Seq(col(loCol), col(hiCol)), hiCol, "__pm",
      precomputedHeavy = heavy)
    val flagged = pm.withColumn("__new",
      when(col("__pm").isNull || col(loCol) > col("__pm"), 1L)
        .otherwise(0L))
    // the island sum orders by (lo, hi, __new DESC): duplicate
    // (lo, hi) rows leave scan 1 with DIFFERENT flags (exactly one
    // carries the island start), so (lo, hi) alone does not totally
    // order them and a shuffle could fold the flag-0 twin into the
    // PREVIOUS island across a genuine gap; putting the flag-1 twin
    // first restores scan-1's fold order (remaining ties are all
    // flag-0 rows — interchangeable +0 contributions)
    graft.util.DistRank.perKeyRunningSum(flagged, keyCol,
        Seq(col(loCol), col(hiCol), desc("__new")), "__new", "__island",
        precomputedHeavy = heavy)
      .groupBy(col(keyCol), col("__island"))
      .agg(min(loCol).as(loCol), max(hiCol).as(hiCol),
        count(lit(1)).as("n_merged"))
      .drop("__island")
  }

  /** Binned interval-overlap join: every pair of rows from `a` and `b`
    * (same `on` keys) whose half-open intervals `[aLo, aHi)` and
    * `[bLo, bHi)` overlap — sessions × incident windows, ad
    * flights × user presence. Overlap is `aLo < bHi AND bLo < aHi`;
    * touching intervals (`aHi == bLo`) do NOT overlap.
    *
    * Both sides explode to covered bins ([[explodeBins]] — same
    * per-interval cap) and equi-join on (`on`, bin). An overlapping
    * pair shares every bin of its intersection, so the join would
    * emit it once per shared bin; the max-start-bin filter
    * `bin == floor(max(aLo, bLo) / w) * w` keeps exactly ONE copy —
    * `max(aLo, bLo)` is a point inside both intervals whenever they
    * overlap, so its bin is always among the shared bins, and it is
    * a single deterministic bin, so no `distinct` re-shuffle is
    * needed. Cost: Σ spans/`binWidth` exploded rows per side, one
    * shuffle each, no nested loop, no dedup pass. */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
      aLo: String, aHi: String, bLo: String, bHi: String,
      binWidth: Long, on: Seq[String] = Nil,
      maxBinsPerInterval: Int = 4096): DataFrame = {
    require(binWidth > 0,
      s"intervalOverlapJoin: binWidth must be positive, got $binWidth")
    require(maxBinsPerInterval > 0 &&
      binWidth <= Long.MaxValue / maxBinsPerInterval,
      s"intervalOverlapJoin: binWidth * maxBinsPerInterval overflows Long " +
        s"($binWidth * $maxBinsPerInterval)")
    Seq(aLo, aHi).foreach(requireLong(a, _, "intervalOverlapJoin"))
    Seq(bLo, bHi).foreach(requireLong(b, _, "intervalOverlapJoin"))
    on.foreach { k =>
      require(a.columns.contains(k) && b.columns.contains(k),
        s"intervalOverlapJoin: equi-key `$k` must be on both sides")
    }
    requireDisjoint(a, b, on, "intervalOverlapJoin")
    val bin = "__graft_bin"
    val ae = explodeBins(a, aLo, aHi, binWidth, maxBinsPerInterval, bin)
    val be = explodeBins(b, bLo, bHi, binWidth, maxBinsPerInterval, bin)
    ae.join(be, on :+ bin)
      .filter(col(aLo) < col(bHi) && col(bLo) < col(aHi) &&
        col(bin) === alignedBin(greatest(col(aLo), col(bLo)), binWidth))
      .drop(bin)
  }
}
