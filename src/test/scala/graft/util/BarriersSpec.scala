package graft.util

import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.text.TextOps

/** The long-lived-service cache story: every internal barrier an
  * operator cache()s is registered in [[Barriers]], and releaseAll /
  * scoped return the session CacheManager to its pre-invocation state
  * — repeated pipeline invocations in one session must not accumulate
  * MEMORY_AND_DISK blocks. */
class BarriersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // English-stopword-heavy text so the curation quality gate's
  // language-id keeps survivors (> 0) — the counts must prove release
  // does not change RESULTS, which needs a non-empty result
  private def corpus(n: Int) = spark.range(n).selectExpr(
    "id as doc_id",
    "concat('the data in this set is about the topic and the words ', " +
      "concat_ws(' ', transform(sequence(1, 20), " +
      "i -> concat('item', cast((id div 4) * 13 + i % 17 as string)))), " +
      "' with a tail of more common words for the gate v', " +
      "cast(id as string)) as text",
    "concat('src', cast(id % 3 as string)) as source")

  test("releaseAll returns the CacheManager to baseline after repeated operator runs") {
    spark.catalog.clearCache()
    Barriers.releaseAll()
    assert(Bridge.cacheManagerIsEmpty(spark), "baseline not clean")
    val docs = corpus(400)
    val first = TextOps.curateCorpus(docs, "doc_id", "text").count()
    assert(!Bridge.cacheManagerIsEmpty(spark),
      "curateCorpus should have registered live barriers")
    assert(Barriers.releaseAll() > 0)
    assert(Bridge.cacheManagerIsEmpty(spark), "barriers leaked after run 1")
    val second = TextOps.curateCorpus(docs, "doc_id", "text").count()
    assert(second == first, "release must not change results")
    Barriers.releaseAll()
    assert(Bridge.cacheManagerIsEmpty(spark), "barriers leaked after run 2")
  }

  test("scoped releases exactly the barriers its block created") {
    spark.catalog.clearCache()
    Barriers.releaseAll()
    // an application-level cache outside any scope must survive
    val mine = corpus(50).cache()
    mine.count()
    val n = Barriers.scoped {
      TextOps.curateCorpus(corpus(300), "doc_id", "text").count()
    }
    assert(n > 0)
    // the operator's barriers are gone, but the application cache stays
    assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "scoped must not release caches created outside its block")
    assert(!Bridge.cacheManagerIsEmpty(spark))
    mine.unpersist()
    assert(Bridge.cacheManagerIsEmpty(spark))
  }

  test("firewall: leaf plan, self-join consumers read the cache, release-safe") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    Barriers.releaseAll()
    val df = spark.range(500).selectExpr("id", "id % 7 as k")
    val losers = df.filter(col("id") % 3 === 0).select("id")
    val fw = Barriers.firewall(losers)
    // 1. the returned frame is a stats-bearing LEAF (LogicalRDD over
    // the cached execution): the self-join shape (df anti-joined
    // against ids derived from df) that misses a plain cache entry
    // plans against the leaf — and the id-scale barrier BROADCASTS,
    // which is the stats-preservation half of the firewall contract
    val kept = df.join(fw, Seq("id"), "left_anti")
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"a firewalled barrier must appear as a leaf scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the id-scale firewalled side must broadcast (stats intact):\n$plan")
    assert(kept.count() == 333)
    // 2. results survive releaseAll (recompute through preserved
    // lineage — the safe-but-slow contract)
    assert(Barriers.releaseAll() >= 1)
    assert(Bridge.cacheManagerIsEmpty(spark))
    assert(kept.count() == 333, "post-release reads must recompute")
    spark.catalog.clearCache()
  }

  test("firewall restores caller column names when a renamed twin is cached first") {
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    Barriers.releaseAll()
    val base = spark.range(100).selectExpr("id as media_id", "id * 2 as vfp")
    // cache the UN-renamed plan first — sameResult ignores output
    // names, so the firewall's lookup below legally resolves to THIS
    // relation; the bridge must still expose the caller's names
    val twin = base.cache()
    twin.count()
    val fw = Barriers.firewall(base.select(col("media_id"),
      col("vfp").as("__sig")))
    assert(fw.columns.toSeq == Seq("media_id", "__sig"),
      s"firewall must keep the caller's names, got ${fw.columns.toSeq}")
    assert(fw.select(sum(col("__sig"))).head.getLong(0) == 9900L)
    Barriers.releaseAll()
    spark.catalog.clearCache()
  }

  test("scoped releases barriers on failure too") {
    spark.catalog.clearCache()
    Barriers.releaseAll()
    intercept[RuntimeException] {
      Barriers.scoped {
        TextOps.curateCorpus(corpus(200), "doc_id", "text").count()
        throw new RuntimeException("boom")
      }
    }
    assert(Bridge.cacheManagerIsEmpty(spark),
      "a thrown stage must not leak its upstream barriers")
  }

  test("overlapping scoped blocks on two threads log the concurrency warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    spark // Spark configures logging on start; capture after that
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
      "barriers-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        if (event.getLevel == Level.WARN)
          seen.add(event.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("graft.util.Barriers").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.setLevel(Level.WARN)
    logger.addAppender(appender)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val first = new Thread(() =>
      Barriers.scoped { entered.countDown(); release.await() })
    first.start()
    try {
      entered.await()
      Barriers.scoped(())
    } finally {
      release.countDown()
      first.join()
      logger.removeAppender(appender)
      logger.setLevel(level)
    }
    assert(seen.toArray.exists(_.toString.contains("concurrent scoped block")),
      s"no concurrency warning reached the graft.util.Barriers logger: $seen")
  }
}
