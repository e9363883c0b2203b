package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Adversarial mega-key evidence for the r16 event-tier de-skews — the
  * last two per-key window funnels named by the r15 verdict:
  *
  *  - `sessionizeBatch`: ONE bot user holding the whole event corpus.
  *    Was `lag` + running `sum(flag)` partitioned by user (one task);
  *    now [[graft.util.DistRank.perKeySessionIds]] (range-spread
  *    two-pass scan).
  *  - `asofJoin`: ONE hot key on both sides. Was a running
  *    `last(ignoreNulls)` window partitioned by the keys; now
  *    [[graft.util.DistRank.perKeyRunningLast]].
  *
  * For each: the de-skewed operator vs the inline window straw man at
  * growing sizes, wall + max single-task time. The growth curves are
  * the BASELINE.md EventSkew table.
  *
  * Usage: runMain graft.tools.EventSkew [sizes...]
  */
object EventSkew {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq
                else Seq(200000, 800000, 3200000)
    val spark = graft.SparkEntry.localSession()
    // every A/B size must route through the HEAVY branch — the whole
    // point is measuring the range scan vs the window on a hot key
    spark.conf.set("spark.graft.skew.heavyKeyRows", "1000")

    val census = Census(spark)

    def measure(label: String)(f: => Long): Unit =
      println(f"EVENT_SKEW $label%-30s " + census.measure(label)(f).skewFields)

    // one user's event stream: 1 s steps with an hour gap every 1000
    // events (so sessionization has real work), value ~ id
    def events(n: Int): DataFrame = spark.range(n).selectExpr(
      "id as event_id", "0L as user_id",
      """timestamp_micros(1500000000000000 + id * 1000000
         + (id div 1000) * 3600000000) as ts""",
      "if(id % 3 = 0, 'purchase', 'click') as event_type",
      "cast(id % 1000 as double) / 8 as value").localCheckpoint()

    sizes.foreach { n =>
      val ev = events(n)
      ev.count()

      // ---- sessionizeBatch: one bot user
      measure(s"sessionize_distrank n=$n") {
        graft.streaming.EventStreams.sessionizeBatch(
          ev.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))).count()
      }
      measure(s"sessionize_window n=$n") {
        val w = Window.partitionBy("user_id").orderBy("ts")
        ev.withColumn("prev", lag("ts", 1).over(w))
          .withColumn("flag", when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) >
              30L * 60 * 1000 * 1000, 1).otherwise(0))
          .withColumn("sid", sum("flag").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sid")
          .agg(min("ts"), max("ts"), count(lit(1)), sum("value"))
          .count()
      }

      // ---- asofJoin: every purchase/click shares the one hot user
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("et"),
          col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("ct"), col("ts").as("click_ts"),
          col("value").as("click_value"), col("event_id").as("click_id"))
      measure(s"asof_distrank n=$n") {
        graft.ops.Temporal.asofJoin(purchases, clicks,
          on = Seq("user_id"), leftTime = "et", rightTime = "ct",
          rightVals = Seq("click_ts", "click_value"),
          tieBreak = Seq("click_id"))
          .agg(count(col("click_ts"))).head.getLong(0)
      }
      // ---- funnel: heavy branch (range scan) vs the one-task light
      // fold the same key would get without the hybrid's heavy route
      measure(s"funnel_hybrid n=$n") {
        graft.ops.Funnel.matchSteps(
          ev.selectExpr("user_id", "unix_micros(ts) as tus", "event_type",
            "value"),
          "user_id", "tus", Seq(col("event_type") === "click",
            col("event_type") === "purchase",
            col("event_type") === "purchase" && col("value") > 50)).count()
      }
      measure(s"funnel_onetask n=$n") {
        spark.conf.set("spark.graft.skew.heavyKeyRows", "999999999999")
        try graft.ops.Funnel.matchSteps(
          ev.selectExpr("user_id", "unix_micros(ts) as tus", "event_type",
            "value"),
          "user_id", "tus", Seq(col("event_type") === "click",
            col("event_type") === "purchase",
            col("event_type") === "purchase" && col("value") > 50)).count()
        finally spark.conf.set("spark.graft.skew.heavyKeyRows", "1000")
      }

      // ---- exact percentiles: DistRank ranks vs Spark's exact
      // percentile aggregate (buffers the whole group in one task).
      // FULL-cardinality values: percentile's internal count-map makes
      // a low-cardinality domain trivially cheap and would flatter the
      // straw man — distinct-per-row values are the honest shape.
      measure(s"pctl_distrank n=$n") {
        graft.ops.Quantiles.exactPercentiles(
          ev.selectExpr("'one' as k",
            "cast((event_id * 7919) % 999999937 as double) as v",
            "event_id"),
          "k", "v", Seq(50, 90, 99), tieBreak = Seq("event_id"))
          .select(expr("cast(p_50 + p_90 + p_99 as long)"))
          .head().getLong(0)
      }
      measure(s"pctl_onetask_agg n=$n") {
        // consume the percentile values, or pruning deletes the
        // aggregate and this measures an empty shuffle
        ev.selectExpr("'one' as k",
            "cast((event_id * 7919) % 999999937 as double) as v")
          .groupBy("k")
          .agg(expr("percentile(v, array(0.5, 0.9, 0.99))").as("p"))
          .select(expr("cast(p[0] + p[1] + p[2] as long)"))
          .head().getLong(0)
      }

      measure(s"asof_window n=$n") {
        val l = purchases.select(col("user_id"), col("et").as("__t"),
          lit(true).as("__is_l"), col("event_id"), col("value"),
          lit(null).cast("timestamp").as("click_ts"),
          lit(null).cast("double").as("click_value"),
          lit(null).cast("long").as("click_id"))
        val r = clicks.select(col("user_id"), col("ct").as("__t"),
          lit(false).as("__is_l"), lit(null).cast("long").as("event_id"),
          lit(null).cast("double").as("value"), col("click_ts"),
          col("click_value"), col("click_id"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("__t"), col("__is_l"), col("click_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // consume the carried struct, or column pruning deletes the
        // whole window and the straw man measures a bare union count
        l.unionByName(r).withColumn("__r",
            last(when(!col("__is_l"),
              struct(col("click_ts"), col("click_value"))),
              ignoreNulls = true).over(w))
          .filter(col("__is_l"))
          .agg(count(col("__r.click_ts"))).head.getLong(0)
      }

      // ---- lag carry (the r17 transition-matrix building block):
      // perKeyLag's heavy-branch range scan vs the window lag the same
      // hot key would serialize through one task
      measure(s"lag_distrank n=$n") {
        graft.util.DistRank.perKeyLag(
          ev.selectExpr("event_id", "user_id", "unix_micros(ts) as tus",
            "event_type"),
          "user_id", Seq(col("tus"), col("event_id")), "event_type",
          "prev")
          .agg(count(col("prev"))).head.getLong(0)
      }
      measure(s"lag_window n=$n") {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        ev.withColumn("prev", lag("event_type", 1).over(w))
          .agg(count(col("prev"))).head.getLong(0)
      }

      // ---- range join (r17): hot-user interval enrichment — one 60 s
      // window per 1000th event, ALL events and ALL windows on the one
      // user. The binned equi-join's key is (user, bin), and the
      // windows spread across time bins, so the hot USER never becomes
      // a hot JOIN CELL; the naive inequality join degenerates to a
      // per-key nested loop (n × n/1000 pair comparisons here) — the
      // quadratic growth is the point of the table.
      val factsR = ev.selectExpr("event_id", "user_id",
        "unix_micros(ts) as tus")
      val winsR = ev.filter(col("event_id") % 1000 === 0)
        .selectExpr("user_id as w_user", "unix_micros(ts) as lo",
          "unix_micros(ts) + 60000000 as hi")
      measure(s"range_binned n=$n") {
        graft.ops.Temporal.rangeJoin(factsR,
          winsR.withColumnRenamed("w_user", "user_id"), "tus", "lo",
          "hi", binWidth = 60000000L, on = Seq("user_id")).count()
      }
      // ---- interval coalescing (r17): the two-scan island layering
      // (exclusive running max -> flag running sum, both hybrid) vs
      // the window-islands form, which serializes the hot key's whole
      // corpus share through ONE task twice (running max + running sum)
      val ivsS = ev.selectExpr("user_id", "unix_micros(ts) as lo",
        "unix_micros(ts) + (1 + event_id % 50) * 60000000 as hi")
      measure(s"islands_distrank n=$n") {
        graft.ops.Temporal.mergeIntervals(ivsS, "user_id", "lo", "hi")
          .count()
      }
      measure(s"islands_window n=$n") {
        val w = Window.partitionBy("user_id").orderBy("lo", "hi")
        ivsS.withColumn("pm", max("hi").over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("nf", when(col("pm").isNull ||
            col("lo") > col("pm"), 1L).otherwise(0L))
          .withColumn("island", sum("nf").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "island")
          .agg(min("lo"), max("hi"), count(lit(1)))
          .count()
      }

      val pairCmp = n.toLong * (n.toLong / 1000L)
      if (pairCmp <= 20000000000L)
        measure(s"range_naive n=$n") {
          factsR.join(winsR, col("user_id") === col("w_user") &&
            col("tus") >= col("lo") && col("tus") < col("hi")).count()
        }
      else
        println(f"EVENT_SKEW range_naive n=$n%-10d SKIPPED: " +
          f"${pairCmp / 1e9}%.0f G nested-loop pair comparisons " +
          "exceed the harness budget (the quadratic blow-up itself)")
    }
    spark.stop()
  }
}
