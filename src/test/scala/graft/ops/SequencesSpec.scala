package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.util.DistRank

/** Sequences.transitionCounts and the DistRank.perKeyLag carry it rides:
  * exact agreement with the window lag they de-skew, null and
  * first-of-key conventions, and the mega-key spread posture. */
class SequencesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("perKeyLag equals window lag(1) on balanced keys, nulls NOT " +
      "skipped, first-of-key NULL") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, "a"), (1L, 20L, null), (1L, 30L, "c"), (1L, 40L, "d"),
      (2L, 10L, "x"),
      (3L, 5L, null), (3L, 6L, "y"))
      .toDF("k", "t", "s")
    val got = DistRank.perKeyLag(rows, "k", Seq(col("t")), "s", "prev")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.get(3))).toMap
    assert(got((1L, 10L)) == null) // first of key
    assert(got((1L, 20L)) == "a")
    assert(got((1L, 30L)) == null) // null value propagates, not skipped
    assert(got((1L, 40L)) == "c")
    assert(got((2L, 10L)) == null)
    assert(got((3L, 5L)) == null)
    assert(got((3L, 6L)) == null) // prev row's value IS null
  }

  test("perKeyLag equals window lag on real events, both dispatch " +
      "paths (light hash fold and forced-heavy two-pass)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val want = ev.withColumn("prev", lag("event_type", 1).over(w))
      .collect().map(r => (r.getLong(0), r.get(4))).toMap
    def got(thresh: Long) = TestSpark.withHeavyKeyRows(thresh)(
      DistRank.perKeyLag(ev, "user_id",
          Seq(col("ts"), col("event_id")), "event_type", "prev")
        .collect().map(r => (r.getLong(0), r.get(4))).toMap)
    assert(got(Long.MaxValue) == want, "light path must equal the window")
    assert(got(1L) == want, "forced-heavy two-pass must equal the window")
  }

  test("transitionCounts: hand-computed matrix incl. probability " +
      "normalization and the dropped first-of-key rows") {
    import spark.implicits._
    // user 1: a->b->a->b ; user 2: b->b ; singleton user 3 contributes
    // nothing. Pairs: a->b x2, b->a x1, b->b x1.
    val rows = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "b"), (2L, 2L, "b"),
      (3L, 9L, "z"))
      .toDF("k", "t", "s")
    val got = Sequences.transitionCounts(rows, "k", Seq(col("t")), "s")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == 3)
    assert(got(("a", "b")) == ((2L, 1.0)))
    assert(got(("b", "a")) == ((1L, 0.5)))
    assert(got(("b", "b")) == ((1L, 0.5)))
  }

  test("transitionCounts equals the window-lag formulation on events " +
      "and probabilities sum to 1 per from_state") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val want = ev.withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type")).count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val res = Sequences.transitionCounts(ev, "user_id",
      Seq(col("ts"), col("event_id")), "event_type").collect()
    val got = res.map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(got == want)
    res.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val total = rs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-12,
        s"probabilities for from=$from must sum to 1, got $total")
    }
  }

  test("a mega-key (one user holding every event) spreads across " +
      "partitions under the forced-heavy path and stays exact") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), lit(0L).as("user_id"), col("ts"),
        col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val want = ev.withColumn("prev", lag("event_type", 1).over(w))
      .collect().map(r => (r.getLong(0), r.get(4))).toMap
    val lagged = TestSpark.withHeavyKeyRows(1L)(DistRank.perKeyLag(ev,
      "user_id", Seq(col("ts"), col("event_id")), "event_type", "prev"))
    val got = lagged.collect().map(r => (r.getLong(0), r.get(4))).toMap
    assert(got == want)
    val partSizes = lagged.rdd
      .mapPartitions(it => Iterator.single(it.size)).collect()
    assert(partSizes.count(_ > 0) > 1,
      s"mega-key must spread over several partitions: ${partSizes.toSeq}")
  }

  test("high-cardinality keys take the default dispatch past the " +
      "two-pass run-table guard (transitionCounts and perKeyLag)") {
    // 2,500 users with two events each, a then b: far more distinct
    // keys per partition than the lowered run cap allows, so a
    // driver-collected run table over every key would throw
    spark.conf.set("spark.graft.distrank.maxRunsPerPartition", "50")
    try {
      val ev = spark.range(5000).selectExpr("id div 2 as user_id",
        "id as event_id", "if(id % 2 = 0, 'a', 'b') as state")
      val m = Sequences.transitionCounts(ev, "user_id", Seq(col("event_id")),
        "state").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(m.toSeq == Seq(("a", "b", 2500L)))
      val lagged = DistRank.perKeyLag(ev, "user_id", Seq(col("event_id")),
        "state", "prev")
      assert(lagged.count() == 5000)
    } finally spark.conf.unset("spark.graft.distrank.maxRunsPerPartition")
  }
}
