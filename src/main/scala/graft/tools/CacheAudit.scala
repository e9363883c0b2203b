package graft.tools

import graft.SparkEntry
import graft.util.Barriers

/** Registry-wide barrier audit: does every barrier a query registers
  * show up in its final plan, or was its lineage re-derived around it?
  * Signal per query: barriers registered while building + executing
  * the plan vs `graft_firewall` leaves (the tag
  * [[org.apache.spark.sql.graftbridge.Bridge.cachedLeaf]] puts on every
  * barrier) in the executed plan. `barriers > 0 && firewalls == 0`
  * means no registered barrier reaches the final plan;
  * `firewalls < barriers` flags partial misses worth a look (some are
  * benign: a barrier consumed entirely inside an earlier job, e.g. a
  * collect-bounded CC loop, never shows in the FINAL plan).
  *
  * Usage: runMain graft.tools.CacheAudit [sfDir] [prefix,...]
  */
object CacheAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only = if (args.length > 1) Some(args(1).split(',').toSeq) else None
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    names.foreach { name =>
      try {
        val before = Barriers.ledgerSize
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val barriers = Barriers.ledgerSize - before
        // firewalled barriers are TAGGED (Bridge.cachedLeaf names the
        // RDD), so they are counted apart from unrelated LogicalRDD
        // leaves (localCheckpoint frames, e.g. LinkRank's per-iteration
        // rank checkpoints) — the r14 advice: untagged RDD scans could
        // push the count >= barriers and mask a real all-miss.
        val fw = "Scan ExistingRDD graft_firewall".r.findAllIn(plan).length
        val rdds = "Scan ExistingRDD".r.findAllIn(plan).length - fw
        val sh = "explode\\(shingles".r.findAllIn(plan).length
        // Barriers consumed entirely inside an earlier job
        // (collect-bounded loops) vanish from the final plan, so
        // fewer firewalls than barriers is only a "look here", not a
        // verdict.
        // driver-materialized results (nearDupClusters' bounded
        // union-find fast path, k-row collects) legitimately consume
        // every barrier in EARLIER jobs — but ONLY when no distributed
        // lineage remains in the final plan at all. A LocalTableScan
        // merely appearing SOMEWHERE (a local lookup joined into a
        // distributed pipeline) must not mask a genuine all-miss, so
        // the plan must also be free of every distributed leaf kind.
        val noDistributedSource = !plan.contains("Scan parquet") &&
          !plan.contains("FileScan") && !plan.contains("BatchScan")
        val localResult = plan.contains("LocalTableScan") &&
          rdds == 0 && noDistributedSource
        // eager localCheckpoint results (pageRank's per-iteration
        // checkpoints): all work ran during query CONSTRUCTION, the
        // final plan is just the checkpointed RDD (plus an output
        // sort) — barriers were consumed by those earlier jobs,
        // nothing left to audit. A plan that still JOINS/AGGREGATES
        // over RDD leaves is NOT this shape: that is a re-derived
        // pipeline and must stay eligible for MISS_ALL.
        val checkpointResult = rdds > 0 && noDistributedSource &&
          !plan.contains("Join") && !plan.contains("Aggregate") &&
          !plan.contains("Window")
        val verdict =
          if (barriers > 0 && fw == 0 && localResult) "LOCAL_RESULT"
          else if (barriers > 0 && fw == 0 && checkpointResult)
            "CHECKPOINT_RESULT"
          else if (barriers > 0 && fw == 0) "MISS_ALL"
          else if (barriers > 0 && fw < barriers) "CHECK_PARTIAL"
          else "ok"
        println(f"CACHE_AUDIT $name%-34s barriers=$barriers%2d " +
          f"firewalls=$fw%2d other_rddscans=$rdds%2d " +
          f"shingle_derives=$sh%2d $verdict")
      } catch { case e: Throwable =>
        println(s"CACHE_AUDIT $name ERROR ${e.getMessage}")
      } finally Barriers.releaseAll()
    }
    spark.stop()
  }
}
