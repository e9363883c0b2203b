package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset

/** Session-lifetime ledger for the BARRIER frames library operators
  * materialize internally (curateCorpus's shingle/candidate frames,
  * Pipeline's stage boundaries, the classifier's feature frames, ...).
  * The barriers are load-bearing for a single invocation — each is
  * read several times within its own operator — but Spark's
  * CacheManager keeps the MEMORY_AND_DISK blocks until somebody
  * unpersists them, so a LONG-LIVED SERVICE invoking operators
  * repeatedly in one session accumulates storage without bound.
  *
  * Every internal barrier is created through [[firewall]], which
  * registers the frame here; a service calls [[releaseAll]] between
  * units of work to return the CacheManager to its pre-invocation state
  * without nuking caches the APPLICATION itself created (the blunt
  * alternative, `spark.catalog.clearCache()`, drops those too).
  *
  * The ledger holds STRONG references: the CacheManager itself keeps
  * a strong reference to every cached plan, so a weakly-held ledger
  * entry whose Dataset got collected would leave an entry nobody can
  * unpersist — the exact leak this exists to close. The driver-side
  * cost is the Dataset wrapper (KBs of plan objects) per barrier
  * until release; the bound is the number of invocations between
  * releases, which is the caller's unit-of-work contract.
  *
  * Batch jobs need none of this: the session exits, the blocks die.
  */
object Barriers {
  private val ledger = new ConcurrentLinkedQueue[Dataset[_]]()

  /** In-flight [[scoped]] blocks. The release contract assumes one
    * unit of work at a time; overlapping scopes (or a [[releaseAll]]
    * racing a scope) unpersist barriers another in-flight operator is
    * still reading — SAFE (the lineage-preserving cache recomputes)
    * but silently slow. The counter makes that misuse LOUD: both
    * entry points log a warning to the `graft.util.Barriers` logger
    * when they observe concurrency, so a service discovers the
    * contract violation from its logs instead of from a latency
    * graph. */
  private val activeScopes = new java.util.concurrent.atomic.AtomicInteger(0)

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.util.Barriers")

  private def warnConcurrent(site: String): Unit =
    log.warn(s"$site observed a concurrent " +
      "scoped block: barriers another in-flight operator still reads may " +
      "be unpersisted (safe, but forces recomputation). Run units of " +
      "work one at a time, or scope per-thread work separately.")

  /** Current ledger size — diagnostics only (`graft.tools.CacheAudit`). */
  def ledgerSize: Int = ledger.size()

  /** Unpersist every barrier registered since the last call and clear
    * the ledger. `blocking = false`: block removal proceeds
    * asynchronously, the CacheManager entry removal is synchronous.
    * Returns the number of frames unpersisted. */
  def releaseAll(): Int = {
    if (activeScopes.get() > 0) warnConcurrent("releaseAll")
    var n = 0
    var df = ledger.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      n += 1
      df = ledger.poll()
    }
    n
  }

  /** The one way a library operator materializes a barrier: cache,
    * register in the ledger, populate EAGERLY (one job at call time)
    * and re-root the returned frame at a leaf over the populated
    * cache. Consumers that join the frame, or ids derived from it, back
    * against a plan sharing one of its leaves are rewritten by the
    * analyzer's self-join deduplication; a leaf has nothing left to
    * rewrite, so every consumer reads the materialized rows (InternalRows
    * through `qe.toRdd`). The ledger still owns the storage for
    * [[releaseAll]], and a post-release read recomputes through the
    * preserved lineage — safe, but slow.
    *
    * The rule: barrier only NARROW frames (ids, id pairs, labels,
    * small per-id features), never a payload-width one. The two
    * measured exceptions are curateCorpus's token-scale `allSh` and the
    * crawl corpus, both A/B'd at sf0.1. */
  def firewall(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val out = df.cache()
    ledger.add(out)
    // populate in ONE job: count() plans a partial/final aggregate that
    // adaptive execution runs as two; the empty projection reads no
    // column of the cached batches
    out.select().foreach((_: org.apache.spark.sql.Row) => ())
    // InMemoryRelation stats, NOT createDataFrame(out.rdd, schema): the
    // leaf carries the real materialized size, so id-scale barriers
    // still BROADCAST in consumer joins.
    org.apache.spark.sql.graftbridge.Bridge.cachedLeaf(out)
  }

  /** Suffix form of [[firewall]] for DataFrame barrier sites. */
  implicit class FirewallOps(private val df: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def barrierFirewall(): org.apache.spark.sql.DataFrame =
      Barriers.firewall(df)
  }

  /** Run `f`, then release the barriers registered DURING it (from any
    * thread — the scope is the ledger delta, which is exactly this
    * invocation's barriers when units of work run one at a time, the
    * long-lived-service shape this exists for). The release runs on
    * failure too, so a thrown stage doesn't leak its upstream
    * barriers. */
  def scoped[T](f: => T): T = {
    if (activeScopes.getAndIncrement() > 0) warnConcurrent("scoped")
    val before = new java.util.IdentityHashMap[Dataset[_], java.lang.Boolean]()
    ledger.forEach(df => before.put(df, java.lang.Boolean.TRUE))
    try f
    finally {
      val it = ledger.iterator()
      while (it.hasNext) {
        val df = it.next()
        if (!before.containsKey(df)) {
          df.unpersist(blocking = false)
          it.remove()
        }
      }
      activeScopes.decrementAndGet()
    }
  }
}
