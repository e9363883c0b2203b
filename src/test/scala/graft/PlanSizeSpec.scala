package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression net for expression-tree blowup: a Column cascade that
  * re-inlines a shared subexpression (e.g. an end-member denominator or
  * an hpxeos site-fraction) multiplies the optimized tree by 10-30x,
  * which shows up as minutes of Catalyst/codegen time at plan build
  * before a single row moves. Current sizes are ~500-2000 nodes
  * (`graft.tools.PlanDump size`, which counts with the same
  * [[graft.tools.PlanDump.exprNodes]]); bounds are ~4x headroom, not
  * exact pins. */
class PlanSizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def exprNodes(name: String): Int = graft.tools.PlanDump.exprNodes(
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan)

  private val bounds = Map(
    "p05_garnet_endmembers" -> 5000, // staged cascade, measured ~1.2k
    "p25_amp_endmembers" -> 5000,    // largest mineral model, ~1.1k
    "p26_spl_endmembers" -> 6000,    // round-2 regression site, ~1.5k
    "p28_tc_amphibole" -> 8000,      // largest hpxeos phase, ~2.0k
    "p14_cipw_gcdkit" -> 4000,       // Dataset.map keeps the tree tiny, ~0.8k
    "q14_asof_join" -> 1000)         // window carry, ~0.14k

  for ((name, bound) <- bounds)
    test(s"$name optimized expression tree stays under $bound nodes") {
      val n = exprNodes(name)
      assert(n < bound, s"$name expression tree grew to $n nodes — " +
        "a shared subexpression is probably being re-inlined")
    }
}
