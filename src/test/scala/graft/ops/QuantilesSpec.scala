package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quantiles.exactPercentiles: pinned integer index semantics against
  * a driver-side sorted reference, null exclusion, duplicate-value
  * determinism, and the mega-group spread posture. */
class QuantilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refIdx(p: Int, n: Int): Int = ((p.toLong * n + 99) / 100).toInt

  test("agrees with the sorted driver-side reference on real data") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val got = Quantiles.exactPercentiles(li, "l_returnflag",
        "l_extendedprice", Seq(50, 90, 99),
        tieBreak = Seq("l_orderkey", "l_linenumber"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val byKey = li.select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    assert(got.keySet == byKey.keySet)
    byKey.foreach { case (k, rows) =>
      val sorted = rows.map(_._2).sorted
      val n = sorted.length
      val want = (n.toLong, sorted(refIdx(50, n) - 1),
        sorted(refIdx(90, n) - 1), sorted(refIdx(99, n) - 1))
      assert(got(k) == want, s"key $k: got ${got(k)}, want $want")
    }
  }

  test("pinned index arithmetic: p=50/99 over n=10 picks the 5th/10th; " +
      "nulls are excluded; duplicates are deterministic") {
    val df = (Seq.tabulate(10)(i => ("a", Some((i + 1).toDouble))) ++
      Seq(("a", None), ("b", Some(7.0)), ("b", Some(7.0)), ("b", None)))
      .toDF("k", "v")
    val got = Quantiles.exactPercentiles(df, "k", "v", Seq(50, 99))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("a") == ((10L, 5.0, 10.0)), "ceil(50*10/100)=5, ceil(99*10/100)=10")
    assert(got("b") == ((2L, 7.0, 7.0)), "nulls excluded; duplicate-safe")
  }

  test("one corpus-sized group spreads across partitions and stays exact") {
    val n = 200000
    val df = spark.range(n).selectExpr("'one' as k",
      "cast((id * 7919) % 1000003 as double) as v", "id")
    val got = Quantiles.exactPercentiles(df, "k", "v", Seq(50, 90),
      tieBreak = Seq("id")).collect().head
    val sorted = df.select("v").collect().map(_.getDouble(0)).sorted
    assert(got.getLong(1) == n)
    assert(got.getDouble(2) == sorted(refIdx(50, n) - 1))
    assert(got.getDouble(3) == sorted(refIdx(90, n) - 1))
  }

  test("weightedPercentiles: hand-computed crossing rows; non-positive " +
      "and null weights drop; weight 1 degenerates to exactPercentiles") {
    // key a: values 1..4, weights 1,5,2,2 -> W=10; noise rows dropped
    val df = Seq(
      ("a", Some(1.0), Some(1L)), ("a", Some(2.0), Some(5L)),
      ("a", Some(3.0), Some(2L)), ("a", Some(4.0), Some(2L)),
      ("a", Some(9.0), Some(0L)), ("a", Some(9.0), Some(-3L)),
      ("a", Some(9.0), None), ("a", None, Some(4L)))
      .toDF("k", "v", "w")
    val got = Quantiles.weightedPercentiles(df, "k", "v", "w",
      Seq(50, 90, 99)).collect().head
    // targets ceil(p*10/100): 5 -> v=2 (cw 6), 9 -> v=4 (cw 10), 10 -> v=4
    assert((got.getLong(1), got.getDouble(2), got.getDouble(3),
      got.getDouble(4)) == ((10L, 2.0, 4.0, 4.0)))
    // all-ones weights == the unweighted discrete percentiles
    val u = spark.range(1000).selectExpr("'g' as k",
      "cast((id * 7919) % 997 as double) as v", "1L as w", "id")
    val wp = Quantiles.weightedPercentiles(u, "k", "v", "w",
      Seq(50, 90, 99), tieBreak = Seq("id")).collect().head
    val ep = Quantiles.exactPercentiles(u, "k", "v",
      Seq(50, 90, 99), tieBreak = Seq("id")).collect().head
    assert((wp.getDouble(2), wp.getDouble(3), wp.getDouble(4)) ==
      ((ep.getDouble(2), ep.getDouble(3), ep.getDouble(4))))
  }

  test("weightedPercentiles: a corpus-sized group on the heavy path " +
      "matches the driver-side weighted CDF") {
    val n = 50000
    val df = spark.range(n).selectExpr("'one' as k",
      "cast((id * 7919) % 999983 as double) as v",
      "1L + id % 7 as w", "id")
    val got = TestSpark.withHeavyKeyRows(1000L)(
      Quantiles.weightedPercentiles(df, "k", "v", "w",
        Seq(50, 99), tieBreak = Seq("id")).collect().head)
    val rows = df.select("v", "w").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    val tw = rows.map(_._2).sum
    def pick(p: Int): Double = {
      val t = (p * tw + 99) / 100
      var c = 0L
      rows.find { case (_, w) => c += w; c >= t }.get._1
    }
    assert(got.getLong(1) == tw)
    assert(got.getDouble(2) == pick(50) && got.getDouble(3) == pick(99))
  }

  test("ntileBuckets is bit-identical to the ntile window, including " +
      "uneven and n < k groups") {
    // group sizes 10 (n % 4 = 2), 7, 3 (n < k), plus nulls
    val rows = Seq.tabulate(10)(i => ("a", Some((100 - i).toDouble), i)) ++
      Seq.tabulate(7)(i => ("b", Some(3.0), 100 + i)) ++ // all-tie values
      Seq.tabulate(3)(i => ("c", Some(i.toDouble), 200 + i)) ++
      Seq(("a", None, 999), ("c", None, 998))
    val df = rows.toDF("k", "v", "id")
    val got = Quantiles.ntileBuckets(df, "k", "v", 4,
        tieBreak = Seq("id"))
      .select("k", "id", "bucket").as[(String, Int, Long)]
      .collect().toSeq.sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("v", "id")
    val want = df.filter(col("v").isNotNull)
      .withColumn("bucket", ntile(4).over(w).cast("long"))
      .select("k", "id", "bucket").as[(String, Int, Long)]
      .collect().toSeq.sorted
    assert(got == want)
    assert(got.size == 20, "null values excluded, all others kept")
    // explicit shape: 10 rows into 4 buckets = 3,3,2,2
    val aSizes = got.filter(_._1 == "a").groupBy(_._3).view
      .mapValues(_.size).toMap
    assert(aSizes == Map(1L -> 3, 2L -> 3, 3L -> 2, 4L -> 2))
  }

  test("no plan contains a Window operator (the one-task-per-key " +
      "funnel these operators exist to avoid)") {
    val df = spark.range(100).selectExpr("'a' as k",
      "cast(id as double) as v", "1L as w", "id")
    Seq(
      Quantiles.exactPercentiles(df, "k", "v", Seq(50)),
      Quantiles.ntileBuckets(df, "k", "v", 4, tieBreak = Seq("id")),
      Quantiles.weightedPercentiles(df, "k", "v", "w", Seq(50))
    ).foreach { out =>
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"window funnel in plan:\n$plan")
    }
  }

  test("ntileBuckets: a corpus-sized group matches the window form") {
    val n = 50000
    val df = spark.range(n).selectExpr("'one' as k",
      "cast((id * 7919) % 1000003 as double) as v", "id")
    val got = TestSpark.withHeavyKeyRows(1000L)(
      Quantiles.ntileBuckets(df, "k", "v", 10, tieBreak = Seq("id"))
        .groupBy("bucket").count().as[(Long, Long)].collect().toMap)
    assert(got == (1L to 10L).map(_ -> 5000L).toMap)
  }
}
