package graft.tools

import org.apache.spark.sql.functions._

/** Minimal repro: does a derived plan substitute a cached subtree? */
object CacheMissProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession()

    val base = spark.range(1000).selectExpr("id", "id % 37 as k")
    val pairs = base.as("x").join(base.as("y"), col("x.k") === col("y.k") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct().cache()
    pairs.count()
    val ids = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct()
    val plan = ids.queryExecution.executedPlan.toString
    println("IDS_USES_CACHE=" + plan.contains("InMemoryTableScan"))

    // same but via the barrierCache + eager count path the kernel uses
    import graft.util.Barriers.BarrierOps
    val p2base = spark.range(1000).selectExpr("id", "id % 41 as k")
    val p2 = {
      val out = p2base.as("x").join(p2base.as("y"), col("x.k") === col("y.k") &&
          col("x.id") < col("y.id"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
        .distinct().barrierCache()
      out.count()
      out
    }
    val ids2 = p2.select(col("a_id").as("id"))
      .union(p2.select(col("b_id").as("id"))).distinct()
    println("IDS2_USES_CACHE=" +
      ids2.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))

    // the REAL kernel chain shape — LshSkew's template corpus verbatim
    import graft.text.TextOps
    val docs = spark.range(6000).selectExpr(
      "id as doc_id",
      """CASE WHEN id % 2 = 0
           THEN concat(concat_ws(' ', transform(sequence(1, 40),
                  i -> concat('tmpl', cast(i as string)))),
                ' u', cast(id as string))
           ELSE concat_ws(' ', transform(sequence(1, 40),
                  i -> concat('w', cast(id * 53 + i * 7 as string))))
         END as text""")
      .localCheckpoint()
    val bux = TextOps.lshBuckets(
      TextOps.minhashSignature(docs, "doc_id", "text", k = 8),
      "doc_id", 8, 2).cache()
    bux.count()
    val bx2 = bux.select("bucket").distinct()
    println("BUX_DERIVED_USES_CACHE=" +
      bx2.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    val p3 = TextOps.lshCandidatePairs(bux, "doc_id").cache()
    p3.count()
    val ids3 = p3.select(col("a_id").as("doc_id"))
      .union(p3.select(col("b_id").as("doc_id"))).distinct()
    println("KERNEL_DERIVED_USES_CACHE=" +
      ids3.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    ids3.count()
    val d3 = docs.join(ids3, Seq("doc_id"), "left_semi")
    println("JOIN_USES_CACHE=" +
      d3.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    val docs2 = spark.range(6000).selectExpr("id as doc_id",
      "cast(id as string) as text").localCheckpoint()
    val d4 = docs2.join(ids3, Seq("doc_id"), "left_semi")
    println("JOIN_INDEP_USES_CACHE=" +
      d4.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    val sh3 = TextOps.explodedShingles(d3, "doc_id", "text", 3).distinct()
    val ep3 = sh3.queryExecution.executedPlan.toString
    println("SH3_USES_CACHE=" + ep3.contains("InMemoryTableScan") +
      " scans=" + "Scan ExistingRDD".r.findAllIn(ep3).length)
    spark.stop()
  }
}
