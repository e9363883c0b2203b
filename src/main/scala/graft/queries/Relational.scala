package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational query track over the TPC-H-ish test tables: scans, filters,
  * hash aggregates, broadcast/shuffle joins, semi/anti joins, windows,
  * unions, top-k. Each query has a DuckDB-equivalent oracle.
  *
  * Scale notes (100 TB thinking):
  *  - dimension joins (`nation`, `part` at fixed size) are explicitly
  *    `broadcast()` so no shuffle of the fact table is ever needed;
  *  - aggregations are partial+final hash aggs (map-side combine free);
  *  - every computed float aggregate is rounded in BOTH engines so the
  *    oracle hash-compare is stable under summation-order differences.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped as both TIMESTAMP(NANOS) and, in newer
    // testdata drops, TIMESTAMP(MICROS). The legacy conf lets Spark 4
    // read the nanos variant (as LongType) and is a no-op for micros;
    // EventStreams.eventTime then adapts to whichever type was read.
    // Set it at EVERY events read: registry Map iteration order shifts
    // as queries are added, so a query that reads events must never
    // depend on an earlier query having set the flag.
    if (name == "events")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/$name.parquet")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G2-style grouped aggregation + P5-style predicate (TPC-H Q1 shape)
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1997-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // O-track: top-k by computed aggregate, deterministic tiebreak
    "q02_revenue_topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    }),

    // J-track: fact-to-dim chain with broadcast dimensions
    "q03_nation_revenue" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(cust, orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("total_revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    // broadcast hash join against `part`, grouped on dim attribute
    "q04_brand_quantity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("p_retailprice"), 6).as("avg_price"))
        .orderBy("p_brand")
    }),

    // left_anti join (NOT EXISTS)
    // Anti-join: customers with no HIGH-priority urgent orders. The
    // restricted right side makes the result non-empty at every sf (the
    // unrestricted "no orders at all" set is empty in this synthetic
    // data, which made the oracle row trivially green).
    "q05_customers_no_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // window function: per-customer top order
    "q06_top_order_per_customer" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("top_price"))
        .orderBy("o_custkey")
    }),

    // J1 union-with-discriminator (reference mineral_data concat shape)
    "q07_entity_union" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(lit("customer").as("kind"), col("c_nationkey").as("nk"),
          col("c_acctbal").as("acctbal"))
      val supp = t(s, dir, "supplier")
        .select(lit("supplier").as("kind"), col("s_nationkey").as("nk"),
          col("s_acctbal").as("acctbal"))
      val nation = t(s, dir, "nation")
      cust.unionByName(supp)
        .join(broadcast(nation), col("nk") === nation("n_nationkey"))
        .groupBy("kind", "n_name")
        .agg(count(lit(1)).as("n"), round(sum("acctbal"), 2).as("total_bal"))
        .orderBy("kind", "n_name")
    }),

    // time-bucketed aggregation over the events stream table; the
    // event-time derivation is schema-adaptive (EventStreams.eventTime).
    "q08_events_hourly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.withColumn("tsx", graft.streaming.EventStreams.eventTime(ev))
        .groupBy(date_trunc("hour", col("tsx")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("hour", "event_type")
    }),

    // P6 membership filter + sort (select-isin shape)
    "q09_filter_isin" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 6).as("avg_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // gap-based sessionization (batch twin of the streaming operator)
    "q11_sessionize" -> ((s, dir) => {
      graft.streaming.EventStreams.sessionizeBatch(t(s, dir, "events"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("total_value"), 4).as("total_value"))
        .orderBy("user_id", "session_start")
    }),

    // sliding-window per-user activity (batch twin of
    // EventStreams.slidingUserActivity; 1h window, 15min slide)
    "q12_sliding_activity" -> ((s, dir) => {
      graft.streaming.EventStreams.slidingUserActivity(t(s, dir, "events"))
        .select(col("window.start").as("win_start"), col("user_id"),
          col("n_events"), round(col("total_value"), 4).as("total_value"))
        .orderBy("win_start", "user_id")
    }),

    // P5 substring-contains filter (select(str) shape, literal-compatible
    // pattern: no regex metacharacters, so contains == rlike here).
    // "AR" matches STANDARD and LARGE in the synthetic p_type domain —
    // a non-trivial partition of the 6 type values.
    "q10_filter_contains" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_type").contains("AR"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(avg("p_size"), 6).as("avg_size"))
        .orderBy("p_brand")
    }),

    // P5 regex filter: the reference's select(str) is pandas
    // .str.contains, which is REGEX by default — alternation + anchors +
    // wildcards must work. Same rlike the PetroFrame.select operator
    // compiles to; the predicate is codegen'd and pushed into the scan's
    // filter. Matches ECONOMY and SMALL, disjoint from q10's matches.
    "q22_filter_regex" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_type").rlike("^(ECONOMY|SM.*L)$"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          round(avg("p_retailprice"), 6).as("avg_price"))
        .orderBy("p_brand")
    }),

    // Skew-mitigated shuffle join: lineitem (big, salted on its own
    // line identity) joined to orders (replicated x8) on orderkey via
    // ops.Skew.saltedJoin — the explicit hot-key fix when AQE's runtime
    // split can't see the skew. The oracle is the PLAIN join SQL: the
    // salt is pure execution strategy and must not change one row.
    "q23_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("okey", col("l_orderkey"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.ops.Skew.saltedJoin(li, ord, Seq("okey"),
          saltBy = col("l_orderkey") * lit(10) + col("l_linenumber"),
          nSalts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // z-order layout: Morton interleave of the two scan dimensions —
    // the write-time clustering value behind Layout.writeZOrdered,
    // summarized per returnflag so the full 32-bit arithmetic is
    // hash-checked without dumping the fact table
    "q24_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.withColumn("z", graft.ops.Layout.zvalue(
          col("l_orderkey"), col("l_partkey"), bits = 16))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), min("z").as("z_min"),
          max("z").as("z_max"), sum("z").as("z_sum"))
        .orderBy("l_returnflag")
    }),

    // G-track: multi-level totals via ROLLUP (partial-agg friendly —
    // one shuffle produces the detail, subtotal, and grand-total rows)
    // As-of join (time-series point-in-time lookup — the classic operator
    // Spark lacks natively). Implemented the scale-correct way: instead of
    // an inequality join (which explodes to |purchases|x|clicks| per user
    // before picking the max), union both event streams tagged and carry
    // the most recent click forward with DistRank's HYBRID per-key
    // running last (r16): normal users hash-fold in one pass, a hot user
    // spreads over the range scan — linear work, no fanout, no one-task
    // window funnel, unbounded user cardinality. Ties at equal
    // ts order clicks (is_p=false) before purchases, then by event_id,
    // so the result is deterministic in both engines.
    "q14_asof_join" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("tsx", graft.streaming.EventStreams.eventTime(ev0))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsx").as("et"),
          col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsx").as("ct"),
          col("tsx").as("click_ts"),
          col("value").as("click_value"), col("event_id").as("click_id"))
      graft.ops.Temporal.asofJoin(purchases, clicks,
          on = Seq("user_id"), leftTime = "et", rightTime = "ct",
          rightVals = Seq("click_ts", "click_value"),
          tieBreak = Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          col("et").as("purchase_ts"),
          round(col("value"), 4).as("purchase_value"),
          col("click_ts"), round(col("click_value"), 4).as("click_value"))
        .orderBy("event_id")
    }),

    // FORWARD as-of join (time-to-next-event): for each purchase, the
    // EARLIEST click at or after it per user — conversion-lag shape.
    // Same de-skewed union + two-pass running-last machinery as q14,
    // reused on a negated time axis (r.t >= l.t == -r.t <= -l.t); the
    // oracle mirrors with the q14 window formulation ordered DESC.
    "q25_asof_forward" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("tsx", graft.streaming.EventStreams.eventTime(ev0))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsx").as("et"),
          col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsx").as("ct"),
          col("tsx").as("next_click_ts"),
          col("value").as("next_click_value"), col("event_id").as("click_id"))
      graft.ops.Temporal.asofJoinForward(purchases, clicks,
          on = Seq("user_id"), leftTime = "et", rightTime = "ct",
          rightVals = Seq("next_click_ts", "next_click_value"),
          tieBreak = Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          col("et").as("purchase_ts"),
          round(col("value"), 4).as("purchase_value"),
          col("next_click_ts"),
          round(col("next_click_value"), 4).as("next_click_value"))
        .orderBy("event_id")
    }),

    // Distributed funnel (click -> purchase -> purchase>50): greedy
    // earliest strictly-ordered step matching per user, ONE range
    // shuffle through the two-pass scan core (no k-way self-join).
    // The oracle is the layered-min formulation the semantics are
    // defined by.
    "q26_funnel" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("tus",
        unix_micros(graft.streaming.EventStreams.eventTime(ev0)))
      graft.ops.Funnel.matchSteps(ev, "user_id", "tus",
          Seq(col("event_type") === "click",
            col("event_type") === "purchase",
            col("event_type") === "purchase" && col("value") > 50))
        .orderBy("user_id")
    }),

    // WINDOWED funnel (click -> purchase -> purchase>50, each chain
    // within 6 hours of ITS OWN anchor click): the conversion-deadline
    // funnel with expiry/re-arm — a stale click can't block a fresh
    // one. Exact max-anchor scan; heavy keys would split into
    // W-aligned lookback buckets. The oracle is the per-anchor
    // layered-min formulation the semantics are defined by.
    "q31_funnel_windowed" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("tus",
        unix_micros(graft.streaming.EventStreams.eventTime(ev0)))
      graft.ops.Funnel.matchStepsWindowed(ev, "user_id", "tus",
          Seq(col("event_type") === "click",
            col("event_type") === "purchase",
            col("event_type") === "purchase" && col("value") > 50),
          windowUs = 6L * 3600L * 1000000L)
        .orderBy("user_id")
    }),

    // EXACT distributed percentiles (not percentile_approx, not a
    // one-task-per-group exact aggregate): DistRank ranks + broadcast
    // count join + rank-selected pivot; index semantics pinned in
    // integer arithmetic ((p*n+99) div 100) so both engines agree
    // bit-exactly. One corpus-sized group spreads over all partitions.
    "q27_exact_percentiles" -> ((s, dir) => {
      graft.ops.Quantiles.exactPercentiles(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", Seq(50, 90, 99),
          tieBreak = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_returnflag")
    }),

    // Weekly cohort retention matrix: first-touch cohorts x active
    // weeks — three map-side-combinable hash aggregates + one shuffle
    // equi-join on the user key; the distinct step collapses bot users
    // BEFORE the join, so no skew funnel and no countDistinct expand.
    "q28_retention" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      graft.ops.Retention.weeklyRetention(ev0, "user_id",
          graft.streaming.EventStreams.eventTime(ev0))
        .orderBy("cohort_week", "week_offset")
    }),

    // Generalized retention: SIGNUP-day cohorts (a supplied cohort
    // table, not first touch) x active days, negative offsets kept
    // (pre-signup activity) — same declarative three-hash-aggregate
    // shape as q28, shuffle join on the user key.
    "q32_retention_signup_day" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val tsx = graft.streaming.EventStreams.eventTime(ev0)
      val cohorts = ev0.filter(col("event_type") === "signup")
        .select(col("user_id"), tsx.as("signup_ts"))
      graft.ops.Retention.retentionMatrix(ev0, "user_id", tsx,
          granularity = "day", cohorts = Some(cohorts))
        .orderBy("cohort", "offset")
    }),

    // Time-series resampling with LOCF gap fill: a dense daily grid per
    // user carrying the latest purchase at or before each grid point —
    // chunked sequence/explode grid + the hybrid de-skewed as-of carry.
    "q29_resample_locf" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val obs = ev0.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          unix_micros(graft.streaming.EventStreams.eventTime(ev0)).as("tus"),
          col("value"), col("event_id"))
        .withColumn("obs_us", col("tus"))
        .withColumn("obs_value", col("value"))
      graft.ops.Temporal.resampleLocf(obs, Seq("user_id"), "tus",
          86400000000L, carry = Seq("obs_us", "obs_value"),
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("grid_us"), col("obs_us"),
          round(col("obs_value"), 4).as("obs_value"))
        .orderBy("user_id", "grid_us")
    }),

    // Tolerance-bounded as-of join: q14's enrichment but a click older
    // than 1 hour before the purchase is NO match (freshness budget) —
    // the staleness filter rides the carried struct's internal match
    // time, so the plan is still one hybrid scan, no join.
    "q30_asof_tolerance" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("tsx", graft.streaming.EventStreams.eventTime(ev0))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsx").as("et"),
          col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsx").as("ct"),
          col("tsx").as("click_ts"),
          col("value").as("click_value"), col("event_id").as("click_id"))
      graft.ops.Temporal.asofJoin(purchases, clicks,
          on = Seq("user_id"), leftTime = "et", rightTime = "ct",
          rightVals = Seq("click_ts", "click_value"),
          tieBreak = Seq("click_id"),
          toleranceUs = Some(3600000000L))
        .select(col("event_id"), col("user_id"),
          col("et").as("purchase_ts"),
          round(col("value"), 4).as("purchase_value"),
          col("click_ts"), round(col("click_value"), 4).as("click_value"))
        .orderBy("event_id")
    }),

    // NEAREST as-of join (pandas merge_asof direction="nearest"): each
    // purchase takes the CLOSEST click either direction, backward
    // winning exact-distance ties — one union, two hybrid scans (the
    // forward carry rides the already-carried frame on a negated
    // axis), one shared heavy-key count, no join.
    "q33_asof_nearest" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("tsx", graft.streaming.EventStreams.eventTime(ev0))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsx").as("et"),
          col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsx").as("ct"),
          col("tsx").as("near_click_ts"),
          col("value").as("near_click_value"), col("event_id").as("click_id"))
      graft.ops.Temporal.asofJoinNearest(purchases, clicks,
          on = Seq("user_id"), leftTime = "et", rightTime = "ct",
          rightVals = Seq("near_click_ts", "near_click_value"),
          tieBreak = Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          col("et").as("purchase_ts"),
          round(col("value"), 4).as("purchase_value"),
          col("near_click_ts"),
          round(col("near_click_value"), 4).as("near_click_value"))
        .orderBy("event_id")
    }),

    // First-order event-type transition matrix over per-user journeys:
    // the de-skewed lag carry (heavy users two-pass, light tail hash
    // fold) + one hash aggregate; p is the MLE Markov estimate,
    // normalized by a window over the <=|states|^2-row AGGREGATE,
    // never over the corpus.
    "q34_transitions" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        unix_micros(graft.streaming.EventStreams.eventTime(ev0)).as("tus"),
        col("event_type"))
      graft.ops.Sequences.transitionCounts(ev, "user_id",
          Seq(col("tus"), col("event_id")), "event_type")
        .select(col("from_state"), col("to_state"), col("n"),
          round(col("p"), 6).as("p"))
        .orderBy("from_state", "to_state")
    }),

    // Session-duration distribution by weekday: the de-skewed
    // sessionizer feeding the exact distributed percentile operator —
    // a two-tier composition (scan -> rank) with no window over an
    // unbounded key anywhere in the plan. Durations are integer
    // micros, so the percentiles are bit-exact cross-engine.
    "q35_session_percentiles" -> ((s, dir) => {
      val sess = graft.streaming.EventStreams.sessionizeBatch(
          t(s, dir, "events"))
        .select(col("user_id"), col("session_start"),
          (unix_micros(col("session_end")) -
            unix_micros(col("session_start"))).as("dur_us"),
          weekday(col("session_start")).as("dow"))
      graft.ops.Quantiles.exactPercentiles(sess, "dow", "dur_us",
          Seq(50, 90, 99), tieBreak = Seq("user_id", "session_start"))
        .orderBy("dow")
    }),

    // Inter-event arrival-gap percentiles per event type ("how long
    // after the previous user action does a purchase happen"): the
    // de-skewed lag carry on the TIME axis feeding the exact
    // percentile operator — integer micro gaps, bit-exact
    // cross-engine; both tiers are hybrid-dispatched, so neither a
    // bot user nor a dominant event type funnels one task.
    "q36_event_gaps" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        unix_micros(graft.streaming.EventStreams.eventTime(ev0)).as("tus"),
        col("event_type"))
      val lagged = graft.util.DistRank.perKeyLag(ev, "user_id",
          Seq(col("tus"), col("event_id")), "tus", "prev_tus")
        .filter(col("prev_tus").isNotNull)
        .select(col("event_type"), col("event_id"),
          (col("tus") - col("prev_tus")).as("gap_us"))
      graft.ops.Quantiles.exactPercentiles(lagged, "event_type",
          "gap_us", Seq(50, 90, 99), tieBreak = Seq("event_id"))
        .orderBy("event_type")
    }),

    // Range (banding) join: fact rows matched to a value-interval
    // dimension. The band table is tiny and explicitly broadcast, so the
    // non-equi condition runs as a broadcast nested-loop with zero fact
    // shuffle — the 100 TB-safe plan for interval lookup. (Were the band
    // table large, the plan is interval bucketing + equi-join —
    // Temporal.rangeJoin, exercised by q37/q39.)
    "q15_range_band_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("A_low", 0.0, 50000.0), ("B_mid", 50000.0, 150000.0),
        ("C_high", 150000.0, 300000.0), ("D_top", 300000.0, 1.0e9))
        .toDF("band", "lo", "hi")
      t(s, dir, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"),
          round(avg("o_totalprice"), 4).as("avg_price"))
        .orderBy("band")
    }),

    // Pivot: long->wide reshape of per-user event activity. Spark's
    // groupBy().pivot() with explicit values is a single partial+final
    // hash aggregate (no extra shuffle vs the plain groupBy); absent
    // (user, type) combinations stay NULL in both engines.
    "q16_event_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(sum("value"))
      wide.select(col("user_id") +: types.map(c => round(col(c), 4).as(c)): _*)
        .orderBy("user_id")
    }),

    // Semi-structured extraction: pull a typed field out of the JSON
    // props column and aggregate on it. get_json_object is a codegen'd
    // path expression — no UDF, no schema inference pass; at scale the
    // extraction runs inside the scan's project before the shuffle.
    "q21_props_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(round(avg("k"), 6).as("avg_k"), min("k").as("min_k"),
          max("k").as("max_k"),
          countDistinct("k").as("n_distinct_k"))
        .orderBy("event_type")
    }),

    // Exact COUNT(DISTINCT) + plain aggregates in one pass — Spark
    // plans the mixed aggregate with Expand + two-phase partial/final
    // hash aggs, still map-side combined; no second scan of events.
    "q20_distinct_users" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("total_value"))
        .orderBy("event_type")
    }),

    // Event-time RANGE window frame: per-row trailing-1h rolling
    // feature (sum + count) — unlike q12's bucketed sliding windows,
    // the frame is anchored at EVERY row. One shuffle by user, one
    // sort, one running frame scan; the range bound is numeric epoch
    // micros so both engines share the frame arithmetic exactly.
    "q19_rolling_1h" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.withColumn("et", graft.streaming.EventStreams.eventTime(e0))
        .withColumn("us", unix_micros(col("et")))
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600000000L, 0L)
      e.select(col("event_id"), col("user_id"), col("et"),
          round(sum("value").over(w), 4).as("rolling_value_1h"),
          count(lit(1)).over(w).as("n_events_1h"))
        .orderBy("event_id")
    }),

    // CUBE: all 2^2 grouping combinations in ONE pass (Expand + single
    // partial+final hash agg — no union of four scans); q13 covers the
    // hierarchical ROLLUP subset.
    "q18_cube_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("revenue"), col("n"))
        .orderBy("returnflag", "linestatus")
    }),

    // Exact interpolated quantiles per group. Spark's percentile() and
    // DuckDB's quantile_cont() share the (n-1)*p linear-interpolation
    // contract — verified bit-exact on this data, so the oracle compares
    // raw doubles. Scale note: exact percentile buffers each group's
    // values (fine for bounded per-group cardinality); the 100 TB path
    // for high-cardinality groups is approx_percentile (t-digest,
    // partial-agg mergeable) at a stated error bound.
    "q17_price_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("q1"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("q3"),
          expr("percentile(l_extendedprice, 0.9)").as("p90"))
        .orderBy("l_returnflag")
    }),

    "q13_rollup_revenue" -> ((s, dir) => {
      // revenue in exact integer CENTS (micro-unit discipline): a
      // double sum over sf1's 6M rows diverges from DuckDB in the last
      // cent (summation order), so each term is micro-rounded to a
      // long and the rollup sums exactly — bit-identical at any SF
      val termMicro = round(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * lit(1e6), 0).cast("long")
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(termMicro).as("__m"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          expr("(__m + 5000L) div 10000L").as("revenue_cents"),
          col("n"))
        .orderBy("returnflag", "linestatus")
    }),

    // LARGE-interval-table range join (the q15 scaladoc's named
    // alternative, now real): every event landing inside ANY same-user
    // 60 s post-error window. The window table is one interval per
    // error event — corpus-scale, unbroadcastable — so the naive plan
    // is a per-key nested loop; Temporal.rangeJoin turns it into a
    // binned shuffle EQUI-join (facts shuffle once, intervals
    // replicate by span/bin = at most 2 rows here) + exact residual
    // filter. Pairs are counted (an event in two error windows counts
    // twice) exactly as the oracle's inequality join does.
    "q37_error_window_join" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.withColumn("tus",
        unix_micros(graft.streaming.EventStreams.eventTime(e0)))
      val facts = e.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), col("tus"))
      val wins = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("tus").as("lo"),
          (col("tus") + lit(60000000L)).as("hi"))
      graft.ops.Temporal.rangeJoin(facts, wins, "tus", "lo", "hi",
          binWidth = 60000000L, on = Seq("user_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("event_id").as("n_events"),
          round(sum("value"), 4).as("total_value"))
        .orderBy("event_type")
    }),

    // Interval×interval OVERLAP join: user sessions × same-user 60 s
    // post-error windows ("which sessions brushed an incident").
    // Both interval tables are data-scale; the max-start-bin trick
    // emits each overlapping pair EXACTLY once with no distinct
    // re-shuffle (max(aLo,bLo) lies in both intervals, so its bin is
    // always shared, and it is one deterministic bin). Sessions are
    // the de-skewed sessionizer's; null-time events are excluded on
    // both engines so the session frames agree.
    "q38_session_error_overlap" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val et = graft.streaming.EventStreams.eventTime(e0)
      val nn = e0.filter(et.isNotNull)
      val sess = graft.streaming.EventStreams.sessionizeBatch(nn)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("s_lo"),
          (unix_micros(col("session_end")) + lit(1L)).as("s_hi"))
      val wins = nn.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(et).as("e_lo"),
          (unix_micros(et) + lit(60000000L)).as("e_hi"))
      graft.ops.Temporal.intervalOverlapJoin(sess, wins,
          "s_lo", "s_hi", "e_lo", "e_hi",
          binWidth = 3600000000L, on = Seq("user_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("s_lo").as("n_sessions"))
        .orderBy("user_id")
    }),

    // Linear multi-touch attribution: each purchase's value splits
    // equally across the user's click/view touches in the 7 days
    // before it (exclusive of the purchase instant). Composed ON the
    // binned range join — the touch↔purchase pairing is the
    // "point in [t-7d, t)" range join (1-day bins → ≤8 interval rows
    // per purchase, touches shuffle once); the per-purchase touch
    // count is a bounded window (≤ #event-types rows per purchase
    // after the pre-aggregate), so no unbounded key funnels one task.
    "q39_linear_attribution" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.withColumn("tus",
        unix_micros(graft.streaming.EventStreams.eventTime(e0)))
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("tus"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("value").as("p_value"),
          (col("tus") - lit(604800000000L)).as("p_lo"),
          col("tus").as("p_hi"))
      val pairs = graft.ops.Temporal.rangeJoin(touches, pur, "tus",
        "p_lo", "p_hi", binWidth = 86400000000L, on = Seq("user_id"))
      val per = pairs.groupBy("p_id", "p_value", "event_type")
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("p_id")
      per.withColumn("n", sum("c").over(w))
        .groupBy("event_type")
        .agg(sum("c").as("n_touches"),
          round(sum(col("p_value") * (col("c").cast("double") / col("n"))),
            4).as("credit"))
        .orderBy("event_type")
    }),

    // Session path mining: the 20 most common session-opening
    // event-type paths (first 5 events per session). Session ids and
    // in-session ranks both ride the hybrid de-skewed scan (composite
    // user#session key), so a bot user's mega-session spreads across
    // range partitions; the per-session collect is bounded at 5 rows
    // by the rank filter BEFORE the collect, so no unbounded
    // collect_list exists in the plan.
    "q40_session_paths" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(col("event_id"), col("user_id"),
          col("event_type"),
          unix_micros(graft.streaming.EventStreams.eventTime(e0)).as("tus"))
        .filter(col("tus").isNotNull)
      // The composite session key's heavy set derives from the user
      // key's: rows(user#sid) <= rows(user), so a session key can only
      // be heavy if its user prefix is. One count job finds the heavy
      // users; when there are none (the common case at a proportionate
      // threshold), the session-key count pass — which re-ran the whole
      // session-id scan just to conclude "no heavy keys" — is skipped
      // outright, and otherwise it counts only the heavy users' rows.
      // Pure execution-strategy routing: both scan paths are
      // output-identical (the hybrid==pure spec), and every key the
      // derivation sends down the light path is below the threshold by
      // the pigeonhole bound above.
      val heavyUsers =
        graft.util.DistRank.heavyKeyValues(e, "user_id").toSeq
      val sid = graft.util.DistRank.perKeySessionIds(e, "user_id", "tus",
        gapUs = 1800000000L, outCol = "sid",
        precomputedHeavy = Some(heavyUsers))
      val keyed = sid.withColumn("skey",
        concat_ws("#", col("user_id"), col("sid")))
      val heavySkeys: Seq[Any] =
        if (heavyUsers.isEmpty) Nil
        else graft.util.DistRank.heavyKeyValues(graft.util.DistRank
          .splitHeavyLight(keyed, "user_id", heavyUsers)._2, "skey").toSeq
      val ranked = graft.util.DistRank.perKeyRowNumber(keyed, "skey",
        Seq(col("tus"), col("event_id")), "rk",
        precomputedHeavy = Some(heavySkeys))
      ranked.filter(col("rk") <= 5)
        .groupBy("skey")
        .agg(concat_ws(">",
          transform(array_sort(collect_list(struct(col("rk"),
            col("event_type")))), x => x.getField("event_type")))
          .as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path"))
        .limit(20)
    }),

    // Exact equi-depth (NTILE) bucketing per event type — the
    // feature-discretization step before histogram features or
    // calibration bins, bit-identical to SQL ntile but skew-proof:
    // the rank rides the hybrid scan (a dominant event type spreads
    // over all partitions where the ntile WINDOW would one-task it)
    // and the bucket is pure integer (rank, n) arithmetic.
    "q41_value_ntile" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
      graft.ops.Quantiles.ntileBuckets(e, "event_type", "value", 4,
          tieBreak = Seq("event_id"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), round(min("value"), 4).as("lo"),
          round(max("value"), 4).as("hi"),
          round(sum("value"), 4).as("total"))
        .orderBy("event_type", "bucket")
    }),

    // Exact deterministic stratified sample: 100 rows per event type
    // under a reproducible integer-hash pseudo-random order (Knuth
    // multiplicative, exact in both engines' BIGINT arithmetic — no
    // engine RNG, no float). Selection is the map-side-combining
    // k-bounded heap, so a dominant stratum never funnels one task;
    // the emitted (stratum, rank, id) rows are compared row-for-row
    // against the oracle's rank window.
    "q42_stratified_sample" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), col("event_id"))
        .withColumn("h", expr("(event_id * 2654435761L) % 4294967296L"))
      graft.ops.Sampling.stratifiedTakeExact(e, "event_type", "event_id",
          Seq(col("h")), k = 100)
        .select(col("event_type"), col("rk"), col("event_id"))
        .orderBy("event_type", "rk")
    }),

    // Interval coalescing (gaps-and-islands): each event opens a
    // 1–50-minute activity interval (width varies by event id, so
    // long intervals really BRIDGE later short ones — the case a
    // lag-based islander gets wrong); mergeIntervals collapses them
    // per user into disjoint coverage islands via two composable
    // de-skewed scans (exclusive running max -> island flag running
    // sum). The mirror is the classic SQL islands formulation with
    // the running-max window.
    "q43_interval_coalesce" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(col("user_id"), col("event_id"),
          unix_micros(graft.streaming.EventStreams.eventTime(e0)).as("lo"))
        .withColumn("hi",
          col("lo") + (lit(1L) + pmod(col("event_id"), lit(50L))) *
            lit(60000000L))
      graft.ops.Temporal.mergeIntervals(e.select("user_id", "lo", "hi"),
          "user_id", "lo", "hi")
        .orderBy("user_id", "lo")
    }),

    // Weighted exact percentiles: duplicity-style integer weights
    // (1..10 by event id) over event values — the importance-weighted
    // corpus statistic; the crossing row is picked by exact integer
    // cumulative-weight arithmetic on the de-skewed running sum, so
    // both engines agree bit-for-bit with no float CDF drift.
    "q44_weighted_percentiles" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("w", lit(1L) + pmod(col("event_id"), lit(10L)))
      graft.ops.Quantiles.weightedPercentiles(e, "event_type", "value",
          "w", Seq(50, 90, 99), tieBreak = Seq("event_id"))
        .orderBy("event_type")
    }),

    // Exact time-weighted hourly averages ("a reading holds until the
    // next one, at most 6 h"): holds come from the de-skewed forward
    // lag, split exactly across the hour grid by the guarded bin
    // explode, rolled up map-side — no join, no window. The per-user
    // TWA keeps float magnitudes bucket-bounded, so the cross-user
    // rollup rounds stably in both engines.
    "q45_time_weighted_avg" -> ((s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(col("user_id"), col("event_id"), col("value"),
        unix_micros(graft.streaming.EventStreams.eventTime(e0)).as("tus"))
      graft.ops.Temporal.timeWeightedAverage(e, "user_id", "tus",
          "value", bucketUs = 3600000000L, maxHoldUs = 21600000000L,
          tieBreak = Seq("event_id"))
        .groupBy("bucket_us")
        .agg(count(lit(1)).as("n_users"),
          sum("dur_us").as("dur_us"),
          round(sum("twa"), 4).as("twa_sum"))
        .orderBy("bucket_us")
    }),

    // Robust outlier detection (median absolute deviation): flag
    // values more than 3 MAD from their group median — the curation
    // filter that survives heavy-tailed value distributions where
    // mean/stddev z-scores drown. Two stacked exact-percentile passes
    // (both de-skewed, both the pinned integer index), medians joined
    // back broadcast (per-type rows); the selected median/MAD are
    // actual data values, so the 3-MAD comparison is bit-identical
    // cross-engine.
    "q46_mad_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .filter(col("value").isNotNull)
      val med = graft.ops.Quantiles.exactPercentiles(e, "event_type",
          "value", Seq(50), tieBreak = Seq("event_id"))
        .select(col("event_type"), col("p_50").as("m"))
      val d = e.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("m")))
      val mad = graft.ops.Quantiles.exactPercentiles(
          d.select(col("event_type"), col("event_id"), col("dev")),
          "event_type", "dev", Seq(50), tieBreak = Seq("event_id"))
        .select(col("event_type"), col("p_50").as("mad"))
      d.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(max("m"), 4).as("median"),
          round(max("mad"), 4).as("mad"),
          count(when(col("dev") > col("mad") * 3, 1)).as("n_outliers"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    "q46_mad_outliers" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
               WHERE value IS NOT NULL),
         r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n FROM e),
         med AS (SELECT event_type,
                  MAX(CASE WHEN rk = (50*n + 99)//100 THEN value END) AS m
                FROM r1 GROUP BY 1),
         d AS (SELECT e.event_type, e.event_id, e.value, med.m,
                 ABS(e.value - med.m) AS dev
               FROM e JOIN med USING (event_type)),
         r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                 ORDER BY dev, event_id) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
         mad AS (SELECT event_type,
                  MAX(CASE WHEN rk = (50*n + 99)//100 THEN dev END) AS mad
                 FROM r2 GROUP BY 1)
         SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(d.m), 4) AS median, ROUND(MAX(mad.mad), 4) AS mad,
           CAST(COUNT(*) FILTER (WHERE d.dev > mad.mad * 3) AS BIGINT)
             AS n_outliers
         FROM d JOIN mad USING (event_type)
         GROUP BY 1 ORDER BY 1""",
    "q45_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, value,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL),
         h0 AS (SELECT user_id, value, tus, lead(tus) OVER (
                 PARTITION BY user_id ORDER BY tus, event_id) AS nxt
               FROM e),
         h AS (SELECT user_id, value, tus AS lo,
                 LEAST(COALESCE(nxt, tus + 21600000000),
                   tus + 21600000000) AS hi
               FROM h0),
         b AS (SELECT user_id, value, lo, hi,
                 unnest(generate_series(
                   lo - ((lo % 3600000000) + 3600000000) % 3600000000,
                   (hi - 1) - (((hi - 1) % 3600000000) + 3600000000)
                     % 3600000000,
                   3600000000)) AS bin
               FROM h WHERE hi > lo),
         o AS (SELECT user_id, bin,
                 LEAST(hi, bin + 3600000000) - GREATEST(lo, bin) AS dur,
                 value FROM b),
         u AS (SELECT user_id, bin, SUM(dur) AS dur_us,
                 SUM(value * dur) / SUM(dur) AS twa
               FROM o GROUP BY 1, 2)
         SELECT bin AS bucket_us, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(dur_us) AS BIGINT) AS dur_us,
           ROUND(SUM(twa), 4) AS twa_sum
         FROM u GROUP BY 1 ORDER BY 1""",
    "q44_weighted_percentiles" ->
      """WITH e AS (SELECT event_type, event_id, value,
                1 + event_id % 10 AS w FROM events
              WHERE value IS NOT NULL),
         c AS (SELECT *,
                 SUM(w) OVER (PARTITION BY event_type
                   ORDER BY value, event_id
                   ROWS UNBOUNDED PRECEDING) AS cw,
                 SUM(w) OVER (PARTITION BY event_type) AS tw
               FROM e)
         SELECT event_type, CAST(MAX(tw) AS BIGINT) AS total_w,
           MAX(CASE WHEN cw*100 >= 50*tw AND (cw-w)*100 < 50*tw
             THEN value END) AS p_50,
           MAX(CASE WHEN cw*100 >= 90*tw AND (cw-w)*100 < 90*tw
             THEN value END) AS p_90,
           MAX(CASE WHEN cw*100 >= 99*tw AND (cw-w)*100 < 99*tw
             THEN value END) AS p_99
         FROM c GROUP BY 1 ORDER BY 1""",
    "q43_interval_coalesce" ->
      """WITH e AS (SELECT user_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS lo,
                epoch_us(CAST(ts AS TIMESTAMP))
                  + (1 + event_id % 50) * 60000000 AS hi
              FROM events WHERE ts IS NOT NULL),
         m AS (SELECT *, MAX(hi) OVER (PARTITION BY user_id
                 ORDER BY lo, hi
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
               FROM e),
         f AS (SELECT *, CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0
                 END AS nf FROM m),
         i AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id
                 ORDER BY lo, hi ROWS UNBOUNDED PRECEDING) AS island
               FROM f)
         SELECT user_id, MIN(lo) AS lo, MAX(hi) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_merged
         FROM i GROUP BY user_id, island ORDER BY 1, 2""",
    "q41_value_ntile" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
               WHERE value IS NOT NULL),
         b AS (SELECT event_type, value, ntile(4) OVER (
                 PARTITION BY event_type ORDER BY value, event_id)
                 AS bucket FROM e)
         SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 4) AS lo, ROUND(MAX(value), 4) AS hi,
           ROUND(SUM(value), 4) AS total
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    "q42_stratified_sample" ->
      """WITH e AS (SELECT event_type, event_id,
                (event_id * 2654435761) % 4294967296 AS h FROM events),
         r AS (SELECT event_type, event_id, row_number() OVER (
                 PARTITION BY event_type ORDER BY h, event_id) AS rk
               FROM e)
         SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id
         FROM r WHERE rk <= 100 ORDER BY 1, 2""",
    "q37_error_window_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
         w AS (SELECT user_id, tus AS lo, tus + 60000000 AS hi FROM e
               WHERE event_type = 'error' AND tus IS NOT NULL),
         j AS (SELECT e.event_type, e.event_id, e.value FROM e JOIN w
                 ON e.user_id = w.user_id AND e.tus >= w.lo AND e.tus < w.hi)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
         FROM j GROUP BY 1 ORDER BY 1""",
    "q38_session_error_overlap" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS et FROM events
               WHERE ts IS NOT NULL),
         l AS (SELECT *, LAG(et) OVER (PARTITION BY user_id ORDER BY et)
                 AS prev FROM e),
         n AS (SELECT *, CASE WHEN prev IS NULL
                 OR epoch_us(et) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0
                 END AS ns FROM l),
         s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY et
                 ROWS UNBOUNDED PRECEDING) AS sid FROM n),
         g AS (SELECT user_id, epoch_us(MIN(et)) AS s_lo,
                 epoch_us(MAX(et)) + 1 AS s_hi
               FROM s GROUP BY user_id, sid),
         w AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS e_lo,
                 epoch_us(CAST(ts AS TIMESTAMP)) + 60000000 AS e_hi
               FROM events WHERE event_type = 'error' AND ts IS NOT NULL),
         j AS (SELECT g.user_id, g.s_lo FROM g JOIN w
                 ON g.user_id = w.user_id
                 AND g.s_lo < w.e_hi AND w.e_lo < g.s_hi)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT s_lo) AS BIGINT) AS n_sessions
         FROM j GROUP BY 1 ORDER BY 1""",
    "q39_linear_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
         t2 AS (SELECT event_id, user_id, event_type, tus FROM e
                WHERE event_type IN ('click','view') AND tus IS NOT NULL),
         p AS (SELECT user_id, event_id AS p_id, value AS p_value,
                 tus - 604800000000 AS p_lo, tus AS p_hi
               FROM e WHERE event_type = 'purchase' AND tus IS NOT NULL),
         j AS (SELECT p.p_id, p.p_value, t2.event_type FROM t2 JOIN p
                 ON t2.user_id = p.user_id
                 AND t2.tus >= p.p_lo AND t2.tus < p.p_hi),
         per AS (SELECT p_id, p_value, event_type, COUNT(*) AS c
                 FROM j GROUP BY 1, 2, 3),
         w AS (SELECT *, SUM(c) OVER (PARTITION BY p_id) AS n FROM per)
         SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_touches,
           ROUND(SUM(p_value * (CAST(c AS DOUBLE) / n)), 4) AS credit
         FROM w GROUP BY 1 ORDER BY 1""",
    "q40_session_paths" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events
              WHERE ts IS NOT NULL),
         l AS (SELECT *, LAG(tus) OVER (PARTITION BY user_id
                 ORDER BY tus, event_id) AS prev FROM e),
         n AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000
                 THEN 1 ELSE 0 END AS ns FROM l),
         s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
                 ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
               FROM n),
         r AS (SELECT user_id, sid, event_type, row_number() OVER (
                 PARTITION BY user_id, sid ORDER BY tus, event_id) AS rk
               FROM s),
         p AS (SELECT user_id, sid,
                 string_agg(event_type, '>' ORDER BY rk) AS path
               FROM r WHERE rk <= 5 GROUP BY 1, 2)
         SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM p
         GROUP BY 1 ORDER BY n DESC, path LIMIT 20""",
    "q14_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS et, value,
                (event_type = 'purchase') AS is_p
         FROM events WHERE event_type IN ('purchase','click')),
         w AS (SELECT *,
                 LAST_VALUE(CASE WHEN NOT is_p THEN et END IGNORE NULLS)
                   OVER win AS click_ts,
                 LAST_VALUE(CASE WHEN NOT is_p THEN value END IGNORE NULLS)
                   OVER win AS click_value
               FROM e WINDOW win AS (PARTITION BY user_id
                 ORDER BY et, is_p, event_id ROWS UNBOUNDED PRECEDING))
         SELECT event_id, user_id, et AS purchase_ts,
           ROUND(value,4) AS purchase_value, click_ts,
           ROUND(click_value,4) AS click_value
         FROM w WHERE is_p ORDER BY event_id""",
    "q25_asof_forward" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS et, value,
                (event_type = 'purchase') AS is_p
         FROM events WHERE event_type IN ('purchase','click')),
         w AS (SELECT *,
                 LAST_VALUE(CASE WHEN NOT is_p THEN et END IGNORE NULLS)
                   OVER win AS next_click_ts,
                 LAST_VALUE(CASE WHEN NOT is_p THEN value END IGNORE NULLS)
                   OVER win AS next_click_value
               FROM e WINDOW win AS (PARTITION BY user_id
                 ORDER BY et DESC, is_p, event_id ROWS UNBOUNDED PRECEDING))
         SELECT event_id, user_id, et AS purchase_ts,
           ROUND(value,4) AS purchase_value, next_click_ts,
           ROUND(next_click_value,4) AS next_click_value
         FROM w WHERE is_p ORDER BY event_id""",
    "q26_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                event_type, value FROM events),
         s1 AS (SELECT user_id, min(tus) AS t1 FROM e
                WHERE event_type = 'click' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING(user_id)
                WHERE event_type = 'purchase' AND tus > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(tus) AS t3 FROM e JOIN s2 USING(user_id)
                WHERE event_type = 'purchase' AND value > 50 AND tus > t2
                GROUP BY 1)
         SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS stages_reached,
           t1 AS step_1_us, t2 AS step_2_us, t3 AS step_3_us
         FROM (SELECT DISTINCT user_id FROM e) u
           LEFT JOIN s1 USING(user_id) LEFT JOIN s2 USING(user_id)
           LEFT JOIN s3 USING(user_id)
         ORDER BY user_id""",
    "q31_funnel_windowed" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                event_type, value FROM events),
         a AS (SELECT user_id, tus AS t1 FROM e WHERE event_type='click'),
         s2 AS (SELECT a.user_id, t1, min(e.tus) AS t2
                FROM a JOIN e USING(user_id)
                WHERE e.event_type='purchase' AND e.tus > t1
                  AND e.tus - t1 <= 21600000000 GROUP BY 1,2),
         s3 AS (SELECT s2.user_id, t1, min(e.tus) AS t3
                FROM s2 JOIN e USING(user_id)
                WHERE e.event_type='purchase' AND e.value > 50
                  AND e.tus > t2 AND e.tus - t1 <= 21600000000
                GROUP BY 1,2),
         r AS (SELECT a.user_id, a.t1, s2.t2, s3.t3
               FROM a LEFT JOIN s2 ON a.user_id=s2.user_id AND a.t1=s2.t1
                      LEFT JOIN s3 ON a.user_id=s3.user_id AND a.t1=s3.t1)
         SELECT u.user_id,
           CAST(coalesce(max(CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 END), 0) AS INTEGER)
             AS stages_reached,
           min(t1) AS step_1_us, min(t2) AS step_2_us, min(t3) AS step_3_us
         FROM (SELECT DISTINCT user_id FROM e) u
           LEFT JOIN r USING(user_id)
         GROUP BY 1 ORDER BY 1""",
    "q27_exact_percentiles" ->
      """WITH r AS (SELECT l_returnflag AS k, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice) AS rk,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT k AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rk = (50*n + 99)//100 THEN v END) AS p_50,
           max(CASE WHEN rk = (90*n + 99)//100 THEN v END) AS p_90,
           max(CASE WHEN rk = (99*n + 99)//100 THEN v END) AS p_99
         FROM r GROUP BY 1 ORDER BY 1""",
    "q28_retention" ->
      """WITH ev AS (SELECT user_id,
                date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
              FROM events WHERE ts IS NOT NULL),
         f AS (SELECT user_id, min(week) AS cohort FROM ev GROUP BY 1),
         a AS (SELECT DISTINCT user_id, week FROM ev)
         SELECT CAST(cohort AS DATE) AS cohort_week,
           CAST(date_diff('day', CAST(cohort AS DATE), CAST(week AS DATE))
             // 7 AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
         FROM a JOIN f USING(user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q32_retention_signup_day" ->
      """WITH ev AS (SELECT user_id,
                date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
              FROM events WHERE ts IS NOT NULL),
         c AS (SELECT user_id,
                 min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS cohort
               FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
               GROUP BY 1),
         a AS (SELECT DISTINCT user_id, d FROM ev)
         SELECT CAST(cohort AS DATE) AS cohort,
           CAST(date_diff('day', CAST(cohort AS DATE), CAST(d AS DATE))
             AS INTEGER) AS offset,
           CAST(count(*) AS BIGINT) AS n_users
         FROM a JOIN c USING(user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q29_resample_locf" ->
      """WITH o0 AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                value, event_id
              FROM events WHERE event_type = 'purchase'),
         -- one row per (user, tus), keeping the max-event_id row: the
         -- Spark side's tieBreak convention made deterministic here
         -- too (DuckDB's native ASOF has no tie-break of its own)
         o AS (SELECT user_id, tus, arg_max(value, event_id) AS value
               FROM o0 GROUP BY 1, 2),
         b AS (SELECT user_id,
                 (min(tus)//86400000000)*86400000000 AS gmin,
                 (max(tus)//86400000000)*86400000000 AS gmax
               FROM o GROUP BY 1),
         g AS (SELECT user_id,
                 unnest(generate_series(gmin, gmax, 86400000000)) AS grid_us
               FROM b)
         SELECT g.user_id, g.grid_us, o.tus AS obs_us,
           ROUND(o.value, 4) AS obs_value
         FROM g ASOF LEFT JOIN o
           ON g.user_id = o.user_id AND o.tus <= g.grid_us
         ORDER BY 1, 2""",
    "q30_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS et, value,
                (event_type = 'purchase') AS is_p
         FROM events WHERE event_type IN ('purchase','click')),
         w AS (SELECT *,
                 LAST_VALUE(CASE WHEN NOT is_p THEN et END IGNORE NULLS)
                   OVER win AS click_ts,
                 LAST_VALUE(CASE WHEN NOT is_p THEN value END IGNORE NULLS)
                   OVER win AS click_value
               FROM e WINDOW win AS (PARTITION BY user_id
                 ORDER BY et, is_p, event_id ROWS UNBOUNDED PRECEDING))
         SELECT event_id, user_id, et AS purchase_ts,
           ROUND(value,4) AS purchase_value,
           CASE WHEN epoch_us(et) - epoch_us(click_ts) <= 3600000000
                THEN click_ts END AS click_ts,
           CASE WHEN epoch_us(et) - epoch_us(click_ts) <= 3600000000
                THEN ROUND(click_value,4) END AS click_value
         FROM w WHERE is_p ORDER BY event_id""",
    "q33_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS et, value,
                (event_type = 'purchase') AS is_p
         FROM events WHERE event_type IN ('purchase','click')),
         w AS (SELECT *,
                 LAST_VALUE(CASE WHEN NOT is_p THEN et END IGNORE NULLS)
                   OVER winb AS b_ts,
                 LAST_VALUE(CASE WHEN NOT is_p THEN value END IGNORE NULLS)
                   OVER winb AS b_v,
                 LAST_VALUE(CASE WHEN NOT is_p THEN et END IGNORE NULLS)
                   OVER winf AS f_ts,
                 LAST_VALUE(CASE WHEN NOT is_p THEN value END IGNORE NULLS)
                   OVER winf AS f_v
               FROM e WINDOW
                 winb AS (PARTITION BY user_id ORDER BY et, is_p, event_id
                          ROWS UNBOUNDED PRECEDING),
                 winf AS (PARTITION BY user_id ORDER BY et DESC, is_p, event_id
                          ROWS UNBOUNDED PRECEDING)),
         n AS (SELECT *,
                 (b_ts IS NOT NULL AND (f_ts IS NULL OR
                    epoch_us(et) - epoch_us(b_ts)
                      <= epoch_us(f_ts) - epoch_us(et))) AS pick_b
               FROM w WHERE is_p)
         SELECT event_id, user_id, et AS purchase_ts,
           ROUND(value,4) AS purchase_value,
           CASE WHEN pick_b THEN b_ts ELSE f_ts END AS near_click_ts,
           CASE WHEN pick_b THEN ROUND(b_v,4) ELSE ROUND(f_v,4) END
             AS near_click_value
         FROM n ORDER BY event_id""",
    "q34_transitions" ->
      """WITH e AS (SELECT event_id, user_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_type
              FROM events),
         l AS (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY tus NULLS FIRST, event_id) AS prev
               FROM e),
         c AS (SELECT prev AS from_state, event_type AS to_state,
                 CAST(count(*) AS BIGINT) AS n
               FROM l WHERE prev IS NOT NULL GROUP BY 1, 2)
         SELECT from_state, to_state, n,
           ROUND(CAST(n AS DOUBLE) / CAST(sum(n) OVER
             (PARTITION BY from_state) AS DOUBLE), 6) AS p
         FROM c ORDER BY from_state, to_state""",
    "q35_session_percentiles" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS et FROM events),
         l AS (SELECT *, LAG(et) OVER (PARTITION BY user_id ORDER BY et)
                 AS prev FROM e),
         n AS (SELECT *, CASE WHEN prev IS NULL
                 OR epoch_us(et) - epoch_us(prev) > 1800000000 THEN 1
                 ELSE 0 END AS ns FROM l),
         s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY et
                 ROWS UNBOUNDED PRECEDING) AS sid FROM n),
         sess AS (SELECT user_id, MIN(et) AS session_start,
                    MAX(et) AS session_end
                  FROM s GROUP BY user_id, sid),
         d AS (SELECT user_id, session_start,
                 epoch_us(session_end) - epoch_us(session_start) AS dur_us,
                 CAST(isodow(session_start) - 1 AS INTEGER) AS dow
               FROM sess),
         r AS (SELECT dow, dur_us,
                 row_number() OVER (PARTITION BY dow
                   ORDER BY dur_us, user_id, session_start) AS rk,
                 count(*) OVER (PARTITION BY dow) AS n
               FROM d)
         SELECT dow, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rk = (50*n + 99)//100 THEN dur_us END) AS p_50,
           max(CASE WHEN rk = (90*n + 99)//100 THEN dur_us END) AS p_90,
           max(CASE WHEN rk = (99*n + 99)//100 THEN dur_us END) AS p_99
         FROM r GROUP BY 1 ORDER BY 1""",
    "q36_event_gaps" ->
      """WITH e AS (SELECT event_id, user_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_type
              FROM events),
         l AS (SELECT event_id, event_type,
                 tus - lag(tus) OVER (PARTITION BY user_id
                   ORDER BY tus NULLS FIRST, event_id) AS gap_us
               FROM e),
         g AS (SELECT * FROM l WHERE gap_us IS NOT NULL),
         r AS (SELECT event_type, gap_us,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY gap_us, event_id) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM g)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rk = (50*n + 99)//100 THEN gap_us END) AS p_50,
           max(CASE WHEN rk = (90*n + 99)//100 THEN gap_us END) AS p_90,
           max(CASE WHEN rk = (99*n + 99)//100 THEN gap_us END) AS p_99
         FROM r GROUP BY 1 ORDER BY 1""",
    "q15_range_band_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
           ('A_low', 0.0, 50000.0), ('B_mid', 50000.0, 150000.0),
           ('C_high', 150000.0, 300000.0), ('D_top', 300000.0, 1.0e9))
         SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice),2) AS total,
           ROUND(AVG(o_totalprice),4) AS avg_price
         FROM orders JOIN bands
           ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY 1 ORDER BY 1""",
    "q21_props_extract" ->
      """SELECT event_type,
           ROUND(AVG(k),6) AS avg_k,
           MIN(k) AS min_k, MAX(k) AS max_k,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
         GROUP BY 1 ORDER BY 1""",
    "q20_distinct_users" ->
      """SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value),4) AS total_value
         FROM events GROUP BY 1 ORDER BY 1""",
    "q19_rolling_1h" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS et,
                value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
         SELECT event_id, user_id, et,
           ROUND(SUM(value) OVER w, 4) AS rolling_value_1h,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_events_1h
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q18_cube_revenue" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         COALESCE(l_linestatus, 'ALL') AS linestatus,
         ROUND(SUM(l_extendedprice*(1.0-l_discount)),2) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY 1, 2""",
    "q17_price_quantiles" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q1,
           quantile_cont(l_quantity, 0.5) AS median,
           quantile_cont(l_quantity, 0.75) AS q3,
           quantile_cont(l_extendedprice, 0.9) AS p90
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q16_event_pivot" ->
      """SELECT user_id,
           ROUND(SUM(value) FILTER (WHERE event_type='click'),4) AS click,
           ROUND(SUM(value) FILTER (WHERE event_type='error'),4) AS error,
           ROUND(SUM(value) FILTER (WHERE event_type='purchase'),4) AS purchase,
           ROUND(SUM(value) FILTER (WHERE event_type='signup'),4) AS signup,
           ROUND(SUM(value) FILTER (WHERE event_type='view'),4) AS view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q13_rollup_revenue" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         COALESCE(l_linestatus, 'ALL') AS linestatus,
         CAST((SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*1e6, 0)
           AS BIGINT)) + 5000) // 10000 AS BIGINT) AS revenue_cents,
         CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY 1, 2""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity),2) AS sum_qty,
         ROUND(SUM(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
         ROUND(AVG(l_quantity),6) AS avg_qty,
         ROUND(AVG(l_discount),6) AS avg_disc,
         CAST(COUNT(*) AS BIGINT) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
         GROUP BY 1,2 ORDER BY 1,2""",
    "q02_revenue_topk" ->
      """SELECT l_orderkey,
         ROUND(SUM(l_extendedprice*(1.0-l_discount)),2) AS revenue
         FROM lineitem GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q03_nation_revenue" ->
      """SELECT n_name, ROUND(SUM(o_totalprice),2) AS total_revenue,
         CAST(COUNT(*) AS BIGINT) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "q04_brand_quantity" ->
      """SELECT p_brand, ROUND(SUM(l_quantity),2) AS sum_qty,
         ROUND(AVG(p_retailprice),6) AS avg_price
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",
    "q05_customers_no_orders" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
         FROM customer WHERE NOT EXISTS
           (SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY 1""",
    "q06_top_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, ROUND(o_totalprice,2) AS top_price
         FROM (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn = 1 ORDER BY o_custkey""",
    "q07_entity_union" ->
      """SELECT kind, n_name, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(acctbal),2) AS total_bal
         FROM (SELECT 'customer' AS kind, c_nationkey AS nk, c_acctbal AS acctbal FROM customer
               UNION ALL
               SELECT 'supplier', s_nationkey, s_acctbal FROM supplier)
         JOIN nation ON nk = n_nationkey
         GROUP BY 1,2 ORDER BY 1,2""",
    "q08_events_hourly" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value),4) AS total_value
         FROM events GROUP BY 1,2 ORDER BY 1,2""",
    "q09_filter_isin" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(AVG(o_totalprice),6) AS avg_price
         FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
         GROUP BY 1,2 ORDER BY 1,2""",
    "q10_filter_contains" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(AVG(p_size),6) AS avg_size
         FROM part WHERE p_type LIKE '%AR%'
         GROUP BY 1 ORDER BY 1""",
    "q22_filter_regex" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(AVG(p_retailprice),6) AS avg_price
         FROM part WHERE regexp_matches(p_type, '^(ECONOMY|SM.*L)$')
         GROUP BY 1 ORDER BY 1""",
    "q23_salted_join" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",
    // Morton-interleave mirror: same pmod + per-bit shift/mask/add
    "q24_zorder" -> {
      val zx = (0 until 16).map(i => s"(((x >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      val zy = (0 until 16).map(i => s"(((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (SELECT l_returnflag,
           CAST((l_orderkey % 65536 + 65536) % 65536 AS BIGINT) AS x,
           CAST((l_partkey % 65536 + 65536) % 65536 AS BIGINT) AS y
         FROM lineitem),
         z AS (SELECT l_returnflag, ($zx) + ($zy) AS z FROM b)
         SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(z) AS BIGINT) AS z_min, CAST(MAX(z) AS BIGINT) AS z_max,
           CAST(SUM(z) AS BIGINT) AS z_sum
         FROM z GROUP BY 1 ORDER BY 1"""
    },
    "q12_sliding_activity" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS et, value FROM events),
         k AS (SELECT unnest([0,1,2,3]) AS k),
         w AS (SELECT user_id, value, et,
                 make_timestamp(CAST(floor(epoch_us(et) / 900000000) AS BIGINT) * 900000000
                   - k::BIGINT * 900000000) AS win_start
               FROM e, k)
         SELECT win_start, user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value),4) AS total_value
         FROM w WHERE et >= win_start AND et < win_start + INTERVAL 1 HOUR
         GROUP BY 1,2 ORDER BY 1,2""",
    "q11_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS et, value FROM events),
         l AS (SELECT *, LAG(et) OVER (PARTITION BY user_id ORDER BY et) AS prev FROM e),
         n AS (SELECT *, CASE WHEN prev IS NULL
                 OR epoch_us(et) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS ns
               FROM l),
         s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY et
                 ROWS UNBOUNDED PRECEDING) AS sid FROM n)
         SELECT user_id, MIN(et) AS session_start, MAX(et) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value),4) AS total_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""
  )
}
