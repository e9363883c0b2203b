package graft.util

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.withHeavyKeyRows

/** DistRank: the skew-proof per-key row number must agree with the
  * window it replaces, on both balanced and adversarially skewed
  * keys. */
class DistRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("perKeyRowNumber equals window row_number on balanced keys") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("doc_id") % 7).as("k"),
        length(col("text")).as("len"))
    val w = Window.partitionBy("k").orderBy(desc("len"), col("doc_id"))
    val want = docs.withColumn("rank", row_number().over(w).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val got = DistRank.perKeyRowNumber(docs, "k",
        Seq(desc("len"), col("doc_id")), "rank")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got.size == want.size)
    assert(got == want)
  }

  test("one mega-key (all rows in a single key) still ranks exactly " +
      "and spreads across partitions") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), lit(0L).as("k"), length(col("text")).as("len"))
    val ranked = withHeavyKeyRows(1L)(DistRank.perKeyRowNumber(docs, "k",
      Seq(desc("len"), col("doc_id")), "rank"))
    // exactness: ranks are a permutation of 1..n matching the total order
    val rows = ranked.collect()
      .map(r => (r.getLong(3), r.getInt(2), r.getLong(0)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to rows.length).toSeq)
    rows.sliding(2).foreach { case Array((_, l1, id1), (_, l2, id2)) =>
      assert(l1 > l2 || (l1 == l2 && id1 < id2),
        "rank order must follow (len desc, id asc)")
      case _ => ()
    }
    // skew posture: the mega-key's rows must NOT collapse into one task
    val partSizes = ranked.rdd
      .mapPartitions(it => Iterator.single(it.size)).collect()
    assert(partSizes.count(_ > 0) > 1,
      s"mega-key must spread over several partitions: ${partSizes.toSeq}")
    assert(partSizes.max < rows.length,
      "no single partition may hold the whole key")
  }

  test("ranks are stable across input partitionings") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("doc_id") % 3).as("k"),
        length(col("text")).as("len"))
    def run(df: org.apache.spark.sql.DataFrame) =
      DistRank.perKeyRowNumber(df, "k", Seq(desc("len"), col("doc_id")),
        "rank").collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(run(docs) == run(docs.repartition(11)))
  }

  test("perKeyRunningLast equals window last(ignoreNulls) incl. nulls " +
      "and a struct value column") {
    import spark.implicits._
    // events per user; only 'click' rows carry a value struct — the
    // exact asofJoin carry shape (null struct on left rows)
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"))
      .withColumn("v",
        when(col("event_type") === "click",
          struct(col("ts").as("cts"), col("value").as("cv"))))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = ev.withColumn("lastv", last("v", ignoreNulls = true).over(w))
      .select(col("event_id"), col("lastv.cts"), col("lastv.cv"))
      .collect().map(r => (r.getLong(0), (r.get(1), r.get(2)))).toMap
    val got = DistRank.perKeyRunningLast(ev, "user_id",
        Seq(col("ts"), col("event_id")), "v", "lastv")
      .select(col("event_id"), col("lastv.cts"), col("lastv.cv"))
      .collect().map(r => (r.getLong(0), (r.get(1), r.get(2)))).toMap
    assert(got.size == want.size && got == want)
  }

  test("perKeySessionIds equals the window lag/sum formulation, " +
      "null times included") {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    // real event times plus injected NULL-time rows to pin the window
    // form's null arithmetic (null never starts a session)
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"),
        when(col("event_id") % 97 =!= 0,
          unix_micros(col("ts").cast("timestamp"))).as("tus"))
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    // the exact original sessionizeBatch window formulation: lag-null
    // (first row OR null previous time) starts a session
    val want = ev
      .withColumn("prev", lag("tus", 1).over(w))
      .withColumn("flag",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum("flag").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("event_id"), col("sid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = DistRank.perKeySessionIds(ev, "user_id", "tus", gapUs, "sid",
        extraOrder = Seq(col("event_id")))
      .select(col("event_id"), col("sid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == want.size && got == want)
  }

  test("mega-key session scan spreads across partitions") {
    val n = 50000
    val ev = spark.range(n).selectExpr("id as event_id", "0L as user_id",
      // a gap every 1000 events: ids advance 1s, each 1000th jumps 1h
      "id * 1000000L + (id div 1000) * 3600000000L as tus")
    val out = withHeavyKeyRows(1L)(DistRank.perKeySessionIds(ev,
      "user_id", "tus", 30L * 60 * 1000 * 1000, "sid"))
    val partSizes = out.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(partSizes.count(_ > 0) > 1,
      s"mega-user must spread over several partitions: ${partSizes.toSeq}")
    // exactness: 50 sessions of 1000 events each
    val sess = out.groupBy("sid").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sess.keySet == (1L to 50L).toSet)
    assert(sess.values.forall(_ == 1000L))
  }

  test("an input with no more keys than partitions takes the two-pass " +
      "leg at the default threshold") {
    // two keys far below the 2 M-row threshold: the hash fold would put
    // each in one task, so the count routes the whole input two-pass
    val df = spark.range(20000).selectExpr("id % 2 as k", "id as v")
    val out = DistRank.perKeyRowNumber(df, "k", Seq(col("v")), "r")
    val partSizes = out.rdd.mapPartitions(it => Iterator.single(it.size))
      .collect()
    assert(partSizes.count(_ > 0) > 2,
      s"two keys must spread over more than two partitions: ${partSizes.toSeq}")
    val got = out.collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.forall { case (v, r) => r == v / 2 + 1 })
  }

  test("float/double/binary keys are rejected (NaN / reference " +
      "equality would corrupt run detection)") {
    val df = spark.range(10).selectExpr("cast(id as double) as k", "id as v")
    val e = intercept[IllegalArgumentException] {
      DistRank.perKeyRowNumber(df, "k", Seq(col("v")), "r")
    }
    assert(e.getMessage.contains("universal equality is unsafe"))
    val bin = spark.range(10)
      .selectExpr("cast(cast(id as string) as binary) as k", "id as v")
    intercept[IllegalArgumentException] {
      DistRank.perKeyRowNumber(bin, "k", Seq(col("v")), "r")
    }
    // struct keys of atomic types are fine
    val ok = spark.range(10).selectExpr("named_struct('a', id % 2) as k",
      "id as v")
    assert(DistRank.perKeyRowNumber(ok, "k", Seq(col("v")), "r").count() == 10)
  }

  test("perKeyRunningSum rejects non-long value columns") {
    val df = spark.range(10).selectExpr("id % 2 as k", "cast(id as int) as v")
    val e = intercept[IllegalArgumentException] {
      DistRank.perKeyRunningSum(df, "k", Seq(col("v")), "v", "s")
    }
    assert(e.getMessage.contains("LongType"))
  }

  test("hybrid dispatch equals the pure two-pass across the light/heavy " +
      "split (sessions and running last)") {
    import spark.implicits._
    // key 0 is heavy (most rows); keys 1..200 are light
    val ev = spark.range(30000).selectExpr(
      "if(id % 3 = 0, id % 200 + 1, 0L) as k",
      "id * 1000000L + (id div 500) * 3600000000L as tus", "id as v")
    val gap = 30L * 60 * 1000 * 1000
    def m(df: org.apache.spark.sql.DataFrame) = df.select("k", "tus", "sid")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pure = withHeavyKeyRows(1L)(m(DistRank.perKeySessionIds(ev, "k",
      "tus", gap, "sid", extraOrder = Seq(col("v")))))
    val hybrid = withHeavyKeyRows(1000L)(m(DistRank.perKeySessionIds(ev,
      "k", "tus", gap, "sid", extraOrder = Seq(col("v")))))
    assert(hybrid.size == pure.size && hybrid == pure)
    def last(thr: Long) = withHeavyKeyRows(thr)(DistRank.perKeyRunningLast(
        ev, "k", Seq(col("tus"), col("v")), "v", "lv")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.get(3)).toMap)
    val lastPure = last(1L)
    val lastHyb = last(1000L)
    assert(lastHyb.size == lastPure.size && lastHyb == lastPure)
  }

  test("perKeyRunningMaxExclusive equals the exclusive window max, " +
      "incl. nulls, first-row NULL, a mega key, and hybrid==pure") {
    import spark.implicits._
    // key 0 heavy; values with nulls sprinkled in
    val ev = spark.range(30000).selectExpr(
      "if(id % 3 = 0, id % 200 + 1, 0L) as k", "id as o",
      "if(id % 7 = 0, null, (id * 7919) % 10007) as v")
    val w = Window.partitionBy("k").orderBy("o")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = ev.withColumn("pm", max("v").over(w))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) null else r.getLong(3))).toMap
    def scan() = DistRank.perKeyRunningMaxExclusive(
        ev, "k", Seq(col("o")), "v", "pm")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) null else r.getLong(3))).toMap
    def got(thr: Option[Long]) = thr.fold(scan())(t => withHeavyKeyRows(t)(scan()))
    val hybrid = got(Some(1000L))
    assert(hybrid.size == want.size && hybrid == want)
    assert(got(None) == want, "default dispatch agrees too")
  }

  test("hybrid dispatch handles key cardinality beyond the two-pass " +
      "guard (the unbounded-cardinality contract)") {
    spark.conf.set("spark.graft.distrank.maxRunsPerPartition", "50")
    try {
      // 100k distinct light keys: the pure two-pass throws (previous
      // test); the hybrid's light path has no driver table and works
      val ev = spark.range(100000).selectExpr("id as k",
        "id * 1000000L as tus")
      val out = withHeavyKeyRows(1000L)(
        DistRank.perKeySessionIds(ev, "k", "tus", 1000L, "sid"))
      assert(out.count() == 100000)
      assert(out.filter(col("sid") =!= 1L).count() == 0,
        "each single-event key is exactly one session")
    } finally spark.conf.unset("spark.graft.distrank.maxRunsPerPartition")
  }

  test("a heavy NULL key routes through the HEAVY branch (null-safe " +
      "split), not the light path's one-task fold") {
    import spark.implicits._
    // most rows carry a NULL key — the classic "null bucket" hot key
    val ev = spark.range(20000).selectExpr(
      "if(id % 10 = 0, id % 7 + 1, null) as k",
      "id * 1000000L as tus", "id as v")
      .selectExpr("cast(k as long) as k", "tus", "v")
    def sessions() = DistRank.perKeySessionIds(ev, "k", "tus",
      500L * 1000000L, "sid", extraOrder = Seq(col("v")))
    val out = withHeavyKeyRows(100L)(sessions())
    // correctness: agrees with the pure two-pass on the same data
    val pure = withHeavyKeyRows(1L)(sessions())
    def m(df: org.apache.spark.sql.DataFrame) = df.select("tus", "sid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(out) == m(pure),
      "hybrid must agree with the pure scan on the null bucket")
    // posture: the null bucket's 18k rows must NOT sit in one task
    val nullRows = out.filter(col("k").isNull)
    val sizes = nullRows.rdd
      .mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.count(_ > 0) > 1,
      s"the heavy null bucket must spread over partitions: ${sizes.toSeq}")
  }

  test("an adversarial count of heavy keys fails fast with guidance " +
      "instead of an unbounded driver collect") {
    spark.conf.set("spark.graft.skew.maxHeavyKeys", "5")
    try {
      val ev = spark.range(1000).selectExpr("id % 20 as k",
        "id * 1000000L as tus")
      val e = intercept[IllegalStateException] {
        withHeavyKeyRows(10L)(
          DistRank.perKeySessionIds(ev, "k", "tus", 1000L, "sid"))
      }
      assert(e.getMessage.contains("heavy-row threshold"))
    } finally spark.conf.unset("spark.graft.skew.maxHeavyKeys")
  }

  test("a nondeterministic upstream (rand) fails fast; a caller-side " +
      "localCheckpoint pins it") {
    val df = spark.range(100)
      .selectExpr("id % 4 as k", "id as v")
      .withColumn("noise", rand(42))
    val e = intercept[IllegalArgumentException] {
      DistRank.perKeyRowNumber(df, "k", Seq(col("v")), "r")
    }
    assert(e.getMessage.contains("nondeterministic"))
    // hybrid path guards too (its count job re-executes the lineage)
    val e2 = intercept[IllegalArgumentException] {
      withHeavyKeyRows(10L)(
        DistRank.perKeyRowNumber(df, "k", Seq(col("v")), "r"))
    }
    assert(e2.getMessage.contains("nondeterministic"))
    val ranked = DistRank.perKeyRowNumber(df.localCheckpoint(), "k",
      Seq(col("v")), "r")
    val got = ranked.collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.length == 100)
    // v is deterministic, so ranks must exactly match v's per-key order
    assert(got.sortBy(_._1).map(_._2).take(4).toSeq == Seq(1L, 1L, 1L, 1L))
  }

  test("heavy-key counts are cached per (key plan, threshold) and never " +
      "collide across different inputs") {
    DistRank.clearKeyCountCache()
    // key 1 heavy in df1; key 2 heavy in df2 — same schema, different data
    val df1 = spark.range(30).selectExpr(
      "CASE WHEN id < 20 THEN 1L ELSE id END as k", "id as v")
    val df2 = spark.range(40).selectExpr(
      "CASE WHEN id < 20 THEN 2L ELSE id END as k", "id as v")
    def heavy(df: org.apache.spark.sql.DataFrame, t: Long) =
      withHeavyKeyRows(t)(DistRank.heavyKeyValues(df, "k"))
    val h1 = heavy(df1, 10L)
    val h1b = heavy(df1, 10L)
    assert(h1.toSeq == Seq(1L))
    assert(h1 eq h1b, "identical plan+threshold must hit the cache " +
      "(same array instance)")
    // a DIFFERENT threshold on the same plan is a different entry
    val h1hi = heavy(df1, 25L)
    assert(h1hi.isEmpty && !(h1hi eq h1))
    // a different input never sees df1's cached set
    val h2 = heavy(df2, 10L)
    assert(h2.toSeq == Seq(2L))
    // clearing drops entries: a recount returns a fresh instance
    DistRank.clearKeyCountCache()
    val h1d = heavy(df1, 10L)
    assert(h1d.toSeq == Seq(1L) && !(h1d eq h1))
  }

  test("the key-count cache holds at most 64 entries and still returns " +
      "the right keys") {
    DistRank.clearKeyCountCache()
    val base = spark.range(40).selectExpr(
      "CASE WHEN id < 20 THEN 3L ELSE id END as k", "id as v")
    // 65 distinct (plan, threshold) entries: one plan, thresholds 1..65
    def heavy(t: Long) = withHeavyKeyRows(t)(DistRank.heavyKeyValues(base, "k"))
    val got = (1L to 65L).map(t => t -> heavy(t))
    assert(DistRank.keyCountCacheSize <= 64,
      s"cache grew to ${DistRank.keyCountCacheSize} entries")
    got.foreach { case (t, h) =>
      val want = if (t == 1L) (Seq(3L) ++ (20L until 40L)).toSet
        else if (t <= 20L) Set(3L) else Set.empty[Long]
      assert(h.map(_.asInstanceOf[Long]).toSet == want, s"threshold $t")
    }
    // a post-bound lookup recounts correctly too
    assert(heavy(20L).toSeq == Seq(3L))
    DistRank.clearKeyCountCache()
  }

  test("a precomputed heavy set skips the count job and still splits " +
      "correctly") {
    val df = spark.range(100).selectExpr(
      "CASE WHEN id < 60 THEN 7L ELSE id END as k", "id as v")
    // a precomputed set bypasses heavyKeyValues entirely: with the
    // count cache cleared and reuse ON, the build must leave it empty
    DistRank.clearKeyCountCache()
    val ranked = DistRank.perKeyRowNumber(df, "k", Seq(col("v")), "r",
      precomputedHeavy = Some(Seq(7L)))
    assert(DistRank.keyCountCacheSize == 0,
      "precomputed heavy keys must skip the count job (cache untouched)")
    val got = ranked.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(DistRank.keyCountCacheSize == 0)
    // the two-pass reference: every key precomputed heavy
    val allKeys = 7L +: (60L until 100L)
    val want = DistRank.perKeyRowNumber(df, "k", Seq(col("v")), "r",
        precomputedHeavy = Some(allKeys))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(DistRank.keyCountCacheSize == 0,
      "the pure two-pass reference takes no count either")
  }

  test("too many distinct keys fails fast with a clear message, not a " +
      "driver OOM") {
    spark.conf.set("spark.graft.distrank.maxRunsPerPartition", "50")
    try {
      val df = spark.range(100000).selectExpr("id as k", "id as v")
      // threshold 1: every key is heavy, so all of them reach the
      // two-pass leg's run table
      val e = intercept[org.apache.spark.SparkException] {
        withHeavyKeyRows(1L)(
          DistRank.perKeyRowNumber(df, "k", Seq(col("v")), "r").count())
      }
      val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
      assert(msg.contains("key cardinality is too high"),
        s"wanted the too-many-keys message, got: $msg")
    } finally spark.conf.unset("spark.graft.distrank.maxRunsPerPartition")
  }
}
